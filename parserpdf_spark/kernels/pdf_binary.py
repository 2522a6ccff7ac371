"""Minimal PDF *binary* text + image extractor (pure python, stdlib + zlib).

The reference feeds PDF files to Marker (``converters/pdf_to_md.py:159``);
this container ships no PDF library, but the subset of PDF that carries
digital text is parseable from scratch: objects are plain ``N 0 obj …
endobj`` frames, page content streams are either raw or FlateDecode
(zlib), and text is positioned with a small operator set (Tf/Td/TD/TL/
T*/Tm) and shown with Tj/TJ/'.  This module turns such PDFs into the
engine's ``pdf_block`` span dicts — the SAME input contract the layout
kernel (kernels/pdf_extract.py) already consumes — so real .pdf bytes
flow through the existing band/column/reading-order machinery:

    pdf bytes → pdf_to_blocks → {"page","bbox","font_size","text",…}
             → extract_pdf_blocks → ordered markdown spans

Supported (all from scratch):

- page order via the /Root → /Pages → /Kids tree (appearance order of
  /Type /Page objects only as a documented fallback when no catalog
  parses); /Contents as a direct ref, an array of refs, or an indirect
  ref to an array — an unresolvable /Contents raises (never a silently
  missing page)
- glyph advance from real width tables: embedded /Widths + /FirstChar
  arrays, or the standard-14 AFM metrics (Helvetica/Times/Courier
  families, public Adobe Core 14 data) keyed by /BaseFont; estimated
  widths (CHAR_WIDTH_FRAC) only as the fallback for unknown fonts
- simple-font /Encoding: /WinAnsiEncoding (cp1252) and
  /MacRomanEncoding named bases, /Differences glyph-name remapping via
  an Adobe-Glyph-List subset (+ uniXXXX/uXXXX positional names), and
  simple-font /ToUnicode CMaps (which win over Differences); Type3
  fonts extract through the same machinery with /FontMatrix-scaled
  /Widths (an unmappable glyph name with no ToUnicode raises — never
  silent mojibake)
- composite Type0 fonts: /Identity-H (and -V) 2-byte CIDs, the
  predefined UniXX-UCS2 encodings (code = UCS-2 code point; CJK text
  extracts without Adobe registry tables, widths via /DW), and embedded
  /Encoding CID CMap streams (codespacerange with 1–4-byte codes,
  cidchar/cidrange kept as ranges, Identity usecmap bases); text
  recovered through the /ToUnicode CMap (bfchar/bfrange, keyed by
  character code) or the UCS-2 code itself, advances from the
  descendant CIDFont's /W + /DW
- image XObjects: ``/Resources /XObject`` names invoked by ``Do`` are
  placed via the graphics-state CTM (q/Q/cm tracked) and emitted as
  media blocks (``media_ref`` set), with their raw payload bytes
  (DCTDecode JPEGs pass through unchanged) surfaced for the image sink
- PDF 1.5+ object streams (/Type /ObjStm): member dicts (catalog,
  pages, fonts) expand into the object table; xref streams are never
  needed (the parser scans object frames directly, so compressed xref
  tables are transparently irrelevant)

Stream filters: FlateDecode, LZWDecode (TIFF-style variable-width codes,
EarlyChange=1), ASCIIHexDecode, ASCII85Decode, RunLengthDecode — singly
or chained via a /Filter array, with PNG row predictors
(Sub/Up/Average/Paeth, /Predictor ≥ 10) and TIFF horizontal
(/Predictor 2) reversed after Flate/LZW; DCTDecode/JPXDecode image
payloads pass through raw.

Inline images (BI…ID…EI) are stripped before tokenization (their binary
payloads can contain accidental operator bytes) and re-enter as
synthetic ``Do`` placeholders, so they place via the normal CTM path and
surface payloads like XObjects.  Form XObjects contribute their text and
images at the Do-time CTM — identity/translation placements extract
in-place; scaled/rotated/nested forms raise (exact placement can't be
reproduced, and silent misplacement is worse than the pre-chunker).

Encrypted PDFs with the standard security handler and an EMPTY user
password (the owner-restricted class every viewer opens silently)
decrypt via kernels/pdf_crypt.py (V1-V5, R2-R6; hand-written RC4, AES
from the ``cryptography`` package); user-password-protected files,
non-Standard handlers and executors without ``cryptography`` raise with
the "encrypted" triage category.

Scope (honest): raw-charset predefined CID encodings (GBK-EUC-H,
B5pc-H, … — the CMaps needing Adobe registry tables) extract ONLY when
the font carries a /ToUnicode (codes decode through it, codespace from
its codespacerange, widths via /DW); without one, or with a code the
ToUnicode doesn't cover, they raise; no CCITTFax/JBIG2/JPX decoding (JPX payloads pass
through raw).
Anything outside the subset raises ValueError and the ingestion bridge
keeps the ``needs_prechunk`` contract for it.

Coordinates: PDF user space is bottom-up; blocks are converted to the
top-down convention the layout kernel uses (y0 = page_height − top).
"""

from __future__ import annotations

import re
import zlib

from parserpdf_spark.kernels.png import unfilter_row

_BT_RE = re.compile(rb"BT(.*?)ET", re.S)
# one operator step: operands (strings/hex/arrays/names/numbers) then an
# operator name.  <hex> must not swallow dict markers (<<)
_TOKEN_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)|<(?![<])[0-9A-Fa-f\s]*>"
    rb"|\[(?:\((?:[^()\\]|\\.)*\)|<(?![<])[0-9A-Fa-f\s]*>|[^\]\\()]|\\.)*\]"
    rb"|/[A-Za-z0-9_.+-]+|-?\.?\d+(?:\.\d+)?|[A-Za-z*'\"]+"
)
# first bytes of a _TOKEN_RE operand token (string, hex string, array,
# name, number); any other token is an operator
_OPERAND_START = b"([/<-.0123456789"
# items inside a TJ array: strings, hex strings, kerning numbers
_TJ_ITEM_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)|<(?![<])[0-9A-Fa-f\s]*>|-?\.?\d+(?:\.\d+)?"
)
_REF_LIST_RE = re.compile(rb"(\d+)\s+\d+\s+R")

# estimated glyph width as a fraction of font size — the FALLBACK when
# no metrics are available (unknown BaseFont without /Widths); only
# relative geometry matters to the layout kernel
CHAR_WIDTH_FRAC = 0.5
LINE_LEADING_FRAC = 1.2

# ---------------------------------------------------------------------------
# Standard-14 metrics (public Adobe Core 14 AFM data, chars 32..126,
# thousandths of an em).  Variants map to the closest base face; Courier
# is fixed-pitch 600.
# ---------------------------------------------------------------------------

_HELVETICA = [
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 278, 278,
    584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611, 778, 722, 278,
    500, 667, 556, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 278, 278, 278, 469, 556, 333, 556, 556, 500, 556, 556,
    278, 556, 556, 222, 222, 500, 222, 833, 556, 556, 556, 556, 333, 500,
    278, 556, 500, 722, 500, 500, 500, 334, 260, 334, 584,
]
_HELVETICA_BOLD = [
    278, 333, 474, 556, 556, 889, 722, 238, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 333, 333,
    584, 584, 584, 611, 975, 722, 722, 722, 722, 667, 611, 778, 722, 278,
    556, 722, 611, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 333, 278, 333, 584, 556, 333, 556, 611, 556, 611, 556,
    333, 611, 611, 278, 278, 556, 278, 889, 611, 611, 611, 611, 389, 556,
    333, 611, 556, 778, 556, 556, 500, 389, 280, 389, 584,
]
_TIMES_ROMAN = [
    250, 333, 408, 500, 500, 833, 778, 180, 333, 333, 500, 564, 250, 333,
    250, 278, 500, 500, 500, 500, 500, 500, 500, 500, 500, 500, 278, 278,
    564, 564, 564, 444, 921, 722, 667, 667, 722, 611, 556, 722, 722, 333,
    389, 722, 611, 889, 722, 722, 556, 722, 667, 556, 611, 722, 722, 944,
    722, 722, 611, 333, 278, 333, 469, 500, 333, 444, 500, 444, 500, 444,
    333, 500, 500, 278, 278, 500, 278, 778, 500, 500, 500, 500, 333, 389,
    278, 500, 500, 722, 500, 500, 444, 480, 200, 480, 541,
]


def _std_widths(base: str) -> dict[int, int] | None:
    """BaseFont name → {char code: width/1000} for the standard-14
    families (subset prefixes like ``ABCDEF+`` stripped; bold/italic
    variants map to the nearest measured face)."""
    name = base.split("+", 1)[-1].lower().replace("-", "").replace(" ", "")
    table = None
    if name.startswith(("helveticabold", "arialbold")):
        table = _HELVETICA_BOLD
    elif name.startswith(("helvetica", "arial")):
        table = _HELVETICA
    elif name.startswith(("times", "timesnewroman")):
        table = _TIMES_ROMAN
    elif name.startswith("courier"):
        return {c: 600 for c in range(32, 127)}
    if table is None:
        return None
    return {c + 32: w for c, w in enumerate(table)}


# ---------------------------------------------------------------------------
# Low-level object machinery
# ---------------------------------------------------------------------------

def _split_objects(data: bytes) -> dict[int, bytes]:
    """Header-split only (no ObjStm expansion): object bodies span to
    the NEXT object header (not to 'endobj': binary stream payloads can
    contain that word by chance)."""
    headers = list(re.finditer(rb"(\d+)\s+\d+\s+obj\b", data))
    objects: dict[int, bytes] = {}
    for i, m in enumerate(headers):
        end = headers[i + 1].start() if i + 1 < len(headers) else len(data)
        objects[int(m.group(1))] = data[m.end() : end]
    return objects


def _object_gens(data: bytes) -> dict[int, int]:
    """Object number → generation (the per-object encryption key mixes
    in the low 2 generation bytes; incrementally-updated files have
    gen > 0 objects)."""
    return {
        int(m.group(1)): int(m.group(2))
        for m in re.finditer(rb"(\d+)\s+(\d+)\s+obj\b", data)
    }


def _parse_objects(data: bytes) -> dict[int, bytes]:
    """Object table of an UNENCRYPTED file.  PDF 1.5+ object streams
    (/Type /ObjStm) are expanded in place: their member dicts (catalog,
    pages, fonts — stream objects can't live there per spec) join the
    object table like direct objects.  (Encrypted files must decrypt
    between the split and the ObjStm expansion — see
    ``pdf_to_blocks_and_media``.)"""
    objects = _split_objects(data)
    _inline_objstm(objects)
    return objects


def _decrypt_objects(objects: dict[int, bytes], decryptor,
                     skip: set[int],
                     gens: dict[int, int] | None = None) -> None:
    """Decrypt every stream payload in place (before filters, before
    ObjStm expansion).  XRef streams are never encrypted per spec and
    are skipped; bodies are rebuilt with a direct /Length so downstream
    framing sees the plaintext size (AES plaintext is shorter than its
    IV+padded ciphertext)."""
    for num, body in list(objects.items()):
        if num in skip:
            continue
        framed = _raw_stream(body, objects)
        if framed is None:
            continue
        head, payload = framed
        if re.search(rb"/Type\s*/XRef\b", head):
            continue
        dec = decryptor.decrypt(num, (gens or {}).get(num, 0), payload)
        newlen = str(len(dec)).encode()
        if re.search(rb"/Length\s+\d+\s+\d+\s+R", head):
            head2 = re.sub(rb"/Length\s+\d+\s+\d+\s+R",
                           b"/Length " + newlen, head, count=1)
        elif re.search(rb"/Length\s+\d+", head):
            head2 = re.sub(rb"/Length\s+\d+(?!\d)",
                           b"/Length " + newlen, head, count=1)
        else:  # delimiter-framed stream: add an explicit length
            cut = head.rstrip()
            if not cut.endswith(b">>"):
                raise ValueError("stream object without a dictionary")
            head2 = cut[:-2] + b" /Length " + newlen + b" >>"
        objects[num] = head2 + b"\nstream\n" + dec + b"\nendstream"


def _inline_objstm(objects: dict[int, bytes]) -> None:
    """Expand every /Type /ObjStm member into ``objects``: the stream
    payload is ``/N`` (num, offset) integer pairs up to ``/First``, then
    the concatenated member bodies."""
    for body in list(objects.values()):
        h = _head(body)
        if not re.search(rb"/Type\s*/ObjStm\b", h):
            continue
        nm = re.search(rb"/N\s+(\d+)", h)
        fm = re.search(rb"/First\s+(\d+)", h)
        payload = _stream_payload(body, objects)
        if nm is None or fm is None or payload is None:
            raise ValueError("malformed object stream (/N, /First, or data)")
        n, first = int(nm.group(1)), int(fm.group(1))
        pairs = re.findall(rb"(\d+)\s+(\d+)", payload[:first])[:n]
        offs = [(int(a), int(b)) for a, b in pairs]
        for i, (onum, off) in enumerate(offs):
            end = offs[i + 1][1] if i + 1 < len(offs) else len(payload) - first
            # direct objects win (spec: an object lives in exactly one place)
            objects.setdefault(onum, payload[first + off : first + end])


def _head(body: bytes) -> bytes:
    return body.split(b"stream", 1)[0]


def _lzw_decode(data: bytes) -> bytes:
    """PDF/TIFF LZW (ISO 32000 §7.4.4): variable 9-12 bit codes, clear
    code 256, EOD 257, EarlyChange=1 (the default — the code width grows
    one code early)."""
    CLEAR, EOD = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == EOD:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError(f"LZW: code {code} out of range")
            out += entry
            if prev is not None and len(table) < 4096:
                # a full table stops growing until the encoder's CLEAR
                table.append(prev + entry[:1])
            prev = entry
            # EarlyChange=1 plus the decoder's one-entry lag behind the
            # encoder (the encoder has already added the entry THIS code
            # will create): widen one entry early
            if len(table) + 2 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    """RunLengthDecode (ISO 32000 §7.4.5): length byte 0-127 copies the
    next length+1 bytes; 129-255 repeats the next byte 257-length times;
    128 is EOD."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        if n == 128:
            break
        if n < 128:
            chunk = data[i + 1 : i + 2 + n]
            if len(chunk) < n + 1:
                raise ValueError("RunLengthDecode: truncated literal run")
            out += chunk
            i += 2 + n
        else:
            if i + 1 >= len(data):
                raise ValueError("RunLengthDecode: truncated repeat run")
            out += data[i + 1 : i + 2] * (257 - n)
            i += 2
    return bytes(out)


def _png_unpredict(data: bytes, predictor: int, columns: int,
                   colors: int, bpc: int) -> bytes:
    """Reverse PNG row predictors (Sub/Up/Average/Paeth, per-row tagged)
    for /Predictor >= 10; /Predictor 2 (TIFF horizontal) for byte-wide
    samples."""
    if predictor != 2 and not 10 <= predictor <= 15:
        # out-of-spec values (3-9, 16+) must hit the pre-chunker, never
        # decode "as if PNG" into silent garbage
        raise ValueError(f"invalid stream /Predictor {predictor}")
    bpp = max(1, (colors * bpc) // 8)
    row_len = -(-(columns * colors * bpc) // 8)
    if predictor == 2:
        if bpc != 8:
            raise ValueError("TIFF predictor with bpc != 8 unsupported")
        if len(data) % row_len:
            raise ValueError("TIFF predictor: truncated row")
        out = bytearray(data)
        for r in range(0, len(out), row_len):
            for i in range(bpp, row_len):
                out[r + i] = (out[r + i] + out[r + i - bpp]) & 0xFF
        return bytes(out)
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos < len(data):
        tag = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + row_len])
        if len(row) < row_len:
            raise ValueError("PNG predictor: truncated row")
        pos += 1 + row_len
        if not unfilter_row(tag, row, prev, bpp):
            raise ValueError(f"PNG predictor: unknown row tag {tag}")
        out += row
        prev = row
    return bytes(out)


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (`<~`-less PDF form, terminated by ``~>``)."""
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    data = re.sub(rb"\s+", b"", data)
    out = bytearray()
    i = 0
    while i < len(data):
        if data[i : i + 1] == b"z":
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        group = data[i : i + 5]
        i += 5
        pad = 5 - len(group)
        group += b"u" * pad
        acc = 0
        for c in group:
            if not 0x21 <= c <= 0x75:
                raise ValueError(f"ASCII85: invalid byte {c:#x}")
            acc = acc * 85 + (c - 0x21)
        four = acc.to_bytes(4, "big")
        out += four[: 4 - pad]
    return bytes(out)


def _decode_parms_list(head: bytes, n: int) -> tuple[list[bytes | None], bool]:
    """The /DecodeParms (or /DP) value → (per-stage dict bytes, aligned).

    ``aligned=True`` means the array form was present, so entry i
    belongs to filter stage i (``null`` entries → None) — the PDF 7.4.1
    chained-filter contract.  A single ``<< … >>`` dict or no key at
    all returns aligned=False (legacy head-level parameter scope).
    Indirect refs are outside the subset and raise."""
    m = re.search(rb"/(?:DecodeParms|DP)\b\s*", head)
    if m is None:
        return [None] * n, False
    at = m.end()
    if head[at:at + 4] == b"null":
        return [None] * n, False
    if head[at:at + 2] == b"<<":
        return [_balanced(head, at, b"<<", b">>")] + [None] * (n - 1), False
    if re.match(rb"\d+\s+\d+\s+R", head[at:]):
        raise ValueError("indirect /DecodeParms unsupported")
    if head[at:at + 1] != b"[":
        raise ValueError("unparseable /DecodeParms value")
    arr = _balanced(head, at, b"[", b"]")
    out: list[bytes | None] = []
    pos = 1  # past '['
    end = len(arr) - 1
    while pos < end:
        c = arr[pos:pos + 1]
        if c.isspace():
            pos += 1
        elif arr[pos:pos + 4] == b"null":
            out.append(None)
            pos += 4
        elif arr[pos:pos + 2] == b"<<":
            d = _balanced(arr, pos, b"<<", b">>")
            out.append(d)
            pos += len(d)
        else:
            raise ValueError("unparseable /DecodeParms array entry")
    if len(out) > n:
        raise ValueError("/DecodeParms array longer than /Filter array")
    out += [None] * (n - len(out))
    return out, True


def _apply_filters(head: bytes, data: bytes) -> bytes:
    """Run the object's /Filter pipeline (a single name or an array, in
    order).  DCTDecode/JPXDecode stay raw (image payloads pass through);
    PNG/TIFF predictors reverse after each Flate/LZW stage using that
    stage's OWN /DecodeParms entry when the array form is present
    (chained Flate+predictor streams round-trip); unknown filters,
    invalid predictor values, predictors without a decompression stage,
    and the ambiguous legacy case (a single head-level /Predictor over
    multiple Flate/LZW stages with no array to align) all raise — the
    pre-chunker contract, never silent garbage."""
    fm = re.search(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)", head)
    if fm is None:
        return data
    names = re.findall(rb"/([A-Za-z0-9]+)", fm.group(1))
    parms, aligned = _decode_parms_list(head, len(names))
    if not aligned:
        pm = re.search(rb"/Predictor\s+(\d+)", head)
        predictor = int(pm.group(1)) if pm else 1
        if predictor > 1:
            n_decomp = sum(
                1 for nm in names if nm in (b"FlateDecode", b"LZWDecode")
            )
            if n_decomp == 0:
                raise ValueError(
                    "/Predictor declared without a Flate/LZW stage to apply it"
                )
            if n_decomp > 1:
                raise ValueError(
                    "/Predictor with multiple decompression stages and no "
                    "/DecodeParms array to align them"
                )

    def unpredict(decoded: bytes, i: int) -> bytes:
        # the stage's own parms dict when aligned; the legacy head-wide
        # scope otherwise (a single dict's keys are found there too)
        src = parms[i] if aligned else head
        if src is None:
            return decoded
        pm = re.search(rb"/Predictor\s+(\d+)", src)
        predictor = int(pm.group(1)) if pm else 1
        if predictor <= 1:
            return decoded
        cm = re.search(rb"/Columns\s+(\d+)", src)
        km = re.search(rb"/Colors\s+(\d+)", src)
        bm = re.search(rb"/BitsPerComponent\s+(\d+)", src)
        return _png_unpredict(
            decoded, predictor,
            int(cm.group(1)) if cm else 1,
            int(km.group(1)) if km else 1,
            int(bm.group(1)) if bm else 8,
        )

    for i, name in enumerate(names):
        if name == b"FlateDecode":
            try:
                data = unpredict(zlib.decompress(data), i)
            except zlib.error as exc:
                raise ValueError(f"broken FlateDecode stream: {exc}") from exc
        elif name == b"LZWDecode":
            data = unpredict(_lzw_decode(data), i)
        elif name == b"RunLengthDecode":
            data = _runlength_decode(data)
        elif name == b"ASCIIHexDecode":
            hexpart = data.split(b">", 1)[0]
            hexpart = re.sub(rb"\s+", b"", hexpart)
            if len(hexpart) % 2:
                hexpart += b"0"
            try:
                data = bytes.fromhex(hexpart.decode("ascii"))
            except (ValueError, UnicodeDecodeError) as exc:
                raise ValueError(f"broken ASCIIHexDecode stream: {exc}") from exc
        elif name == b"ASCII85Decode":
            data = _ascii85_decode(data)
        elif name in (b"DCTDecode", b"JPXDecode"):
            return data  # terminal image encodings: payload stays as-is
        else:
            raise ValueError(f"unsupported stream filter /{name.decode()}")
    return data


def _stream_payload(
    body: bytes, objects: dict[int, bytes] | None = None
) -> bytes | None:
    """Stream payload of one object.  Sized by /Length when present —
    compressed bytes can contain ``endstream``/``endobj`` sequences, so
    delimiter scanning alone silently truncates (observed).

    An INDIRECT ``/Length N 0 R`` must not match the direct pattern
    (the object number would masquerade as a byte count and truncate
    the stream); it resolves through ``objects`` when provided, else
    falls back to the delimiter scan."""
    framed = _raw_stream(body, objects)
    if framed is None:
        return None
    head, data = framed
    return _apply_filters(head, data)


def _raw_stream(
    body: bytes, objects: dict[int, bytes] | None = None
) -> tuple[bytes, bytes] | None:
    """(head, raw still-filtered payload) of one object's stream, or
    None if the object has no stream.  Shared by :func:`_stream_payload`
    and the decryption pass (which must see the ciphertext BEFORE
    filters apply)."""
    sm = re.search(rb"stream\r?\n", body)
    if sm is None:
        return None
    head = body[: sm.start()]
    # (?!\d) pins the full number: without it, backtracking shrinks a
    # multi-digit object ref ('/Length 10 0 R' → length 1) past the
    # indirect-ref lookahead
    lm = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", head)
    length: int | None = int(lm.group(1)) if lm else None
    if length is None and objects is not None:
        im = re.search(rb"/Length\s+(\d+)\s+\d+\s+R", head)
        if im and int(im.group(1)) in objects:
            nm = re.search(rb"\d+", _head(objects[int(im.group(1))]))
            if nm:
                length = int(nm.group(0))
    if length is not None:
        data = body[sm.end() : sm.end() + length]
    else:  # unresolvable /Length: fall back to the delimiter scan
        end = body.find(b"endstream", sm.end())
        if end < 0:
            return None
        data = body[sm.end() : end].rstrip(b"\r\n")
    return head, data


def _ref(head: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R", head)
    return int(m.group(1)) if m else None


def _balanced(src: bytes, start: int, open_b: bytes, close_b: bytes) -> bytes:
    """src[start:] starts at ``open_b``; return the balanced region
    (inclusive).  Used for ``<< … >>`` dicts and ``[ … ]`` arrays whose
    contents may nest."""
    depth = 0
    i = start
    step = len(open_b)
    while i < len(src):
        if src[i : i + step] == open_b:
            depth += 1
            i += step
        elif src[i : i + len(close_b)] == close_b:
            depth -= 1
            i += len(close_b)
            if depth == 0:
                return src[start:i]
        else:
            i += 1
    raise ValueError("unbalanced PDF dictionary/array")


def _dict_value(
    objects: dict[int, bytes], src: bytes, key: bytes
) -> bytes | None:
    """The value region for ``/key`` in a dict: an inline ``<< … >>``,
    an inline ``[ … ]``, or an indirect ref resolved to the target's
    head (dict objects) / full body (so streams stay reachable)."""
    m = re.search(rb"/" + key + rb"\s*(<<|\[|(\d+)\s+\d+\s+R)", src)
    if m is None:
        return None
    if m.group(1) == b"<<":
        return _balanced(src, m.start(1), b"<<", b">>")
    if m.group(1) == b"[":
        return _balanced(src, m.start(1), b"[", b"]")
    num = int(m.group(2))
    if num not in objects:
        return None
    return objects[num]


# ---------------------------------------------------------------------------
# Page tree + content streams
# ---------------------------------------------------------------------------

_PAGE_TYPE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_PAGES_TYPE_RE = re.compile(rb"/Type\s*/Pages\b")


def _page_numbers(objects: dict[int, bytes]) -> list[int]:
    """Document page order via /Root → /Pages → /Kids; falls back to the
    appearance order of /Type /Page objects when no catalog/tree parses
    (the pre-tree behavior, now explicit instead of implicit)."""
    pages_root = None
    for body in objects.values():
        h = _head(body)
        if b"/Catalog" in h and b"/Type" in h:
            pages_root = _ref(h, b"Pages")
            break

    order: list[int] = []
    if pages_root is not None and pages_root in objects:
        seen: set[int] = set()

        def walk(num: int) -> None:
            if num in seen:
                raise ValueError("cycle in /Pages /Kids tree")
            seen.add(num)
            h = _head(objects.get(num, b""))
            if _PAGES_TYPE_RE.search(h):
                kids = _dict_value(objects, h, b"Kids")
                if kids is None:
                    raise ValueError(f"/Pages object {num} without /Kids")
                for m in _REF_LIST_RE.finditer(kids):
                    walk(int(m.group(1)))
            elif _PAGE_TYPE_RE.search(h):
                order.append(num)
            # other node types inside Kids are ignored

        walk(pages_root)
    if not order:  # documented fallback: appearance order
        order = [
            num for num, body in objects.items()
            if _PAGE_TYPE_RE.search(_head(body))
        ]
    return order


def _content_stream(objects: dict[int, bytes], page_head: bytes, num: int) -> bytes:
    """Resolve /Contents (direct ref, array of refs, or indirect ref to
    an array) into one concatenated stream.  Unresolvable contents raise
    — a page must never silently vanish from the output."""
    refs: list[int] = []
    arr = re.search(rb"/Contents\s*\[", page_head)
    if arr:
        region = _balanced(page_head, arr.end() - 1, b"[", b"]")
        refs = [int(m.group(1)) for m in _REF_LIST_RE.finditer(region)]
    else:
        direct = _ref(page_head, b"Contents")
        if direct is None:
            raise ValueError(f"page object {num} without /Contents")
        body = objects.get(direct)
        if body is None:
            raise ValueError(f"page {num}: unresolvable /Contents {direct}")
        payload = _stream_payload(body, objects)
        if payload is not None:
            return payload
        # indirect ref to an array object
        refs = [int(m.group(1)) for m in _REF_LIST_RE.finditer(_head(body))]
        if not refs:
            raise ValueError(f"page {num}: /Contents {direct} is neither "
                             "a stream nor an array of refs")
    parts: list[bytes] = []
    for r in refs:
        body = objects.get(r)
        payload = _stream_payload(body, objects) if body is not None else None
        if payload is None:
            raise ValueError(f"page {num}: unresolvable content stream {r}")
        parts.append(payload)
    return b"\n".join(parts)


def _resources(objects: dict[int, bytes], num: int) -> bytes:
    """/Resources of a page, inherited through /Parent when absent
    (the spec's inheritable attribute)."""
    hops = 0
    cur: int | None = num
    while cur is not None and hops < 32:
        h = _head(objects.get(cur, b""))
        res = _dict_value(objects, h, b"Resources")
        if res is not None:
            return res
        cur = _ref(h, b"Parent")
        hops += 1
    return b""


# ---------------------------------------------------------------------------
# Fonts
# ---------------------------------------------------------------------------

def _safe_chr(cp: int) -> str:
    """chr() that never emits lone surrogates or invalid code points —
    an unpaired 0xD800-0xDFFF would survive into the text column and
    blow up Arrow/Parquet UTF-8 serialization downstream."""
    if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
        return "�"
    return chr(cp)


class _Font:
    """Decoding + advance-width behavior of one page font."""

    __slots__ = (
        "type0", "widths", "default_w", "to_unicode",
        "codespace", "cid_chars", "cid_ranges", "ucs2", "tounicode_only",
        "charmap",
    )

    def __init__(self):
        self.type0 = False
        self.widths: dict[int, float] | None = None  # code→width/1000
        self.default_w = 1000.0 * CHAR_WIDTH_FRAC
        self.to_unicode: dict[int, str] = {}
        # CID machinery (Type0 only).  codespace: (nbytes, lo, hi) ranges
        # driving variable-length code splitting; cid_chars/cid_ranges:
        # the embedded-CMap code→CID map (None/[] = identity, the
        # Identity-H case); ucs2: the code IS the UCS-2 code point (the
        # predefined UniXX-UCS2 encodings — CID unknown without Adobe's
        # registry tables, so widths fall back to /DW).
        self.codespace: list[tuple[int, int, int]] = [(2, 0x0000, 0xFFFF)]
        self.cid_chars: dict[int, int] | None = None
        self.cid_ranges: list[tuple[int, int, int]] = []
        self.ucs2 = False
        # raw-charset predefined CMap (GBK-EUC-H, B5pc-H, ...) rescued by
        # the font's own /ToUnicode: codes decode ONLY through ToUnicode
        # (keyed by code); an uncovered code raises — Adobe registry
        # tables are not reproducible from scratch, so silent garbling
        # is never an option (-> needs_prechunk triage)
        self.tounicode_only = False
        # simple-font code→char overrides (named encodings, Differences
        # glyph names, ToUnicode); None = raw latin-1
        self.charmap: dict[int, str] | None = None

    def _codes(self, raw: bytes) -> list[int]:
        """String bytes → character codes via the codespace ranges
        (shortest-first greedy; a dangling fragment shorter than the
        shortest range is dropped, matching fixed-2-byte behavior)."""
        out: list[int] = []
        i, n = 0, len(raw)
        ranges = sorted(self.codespace)
        min_nb = ranges[0][0] if ranges else 2
        while i < n:
            for nb, lo, hi in ranges:
                if i + nb <= n and lo <= int.from_bytes(raw[i:i + nb], "big") <= hi:
                    out.append(int.from_bytes(raw[i:i + nb], "big"))
                    i += nb
                    break
            else:
                # spec 9.7.6.3: unmatched bytes consume the shortest
                # code length and map through as-is (→ notdef-ish)
                if i + min_nb > n:
                    break
                out.append(int.from_bytes(raw[i:i + min_nb], "big"))
                i += min_nb
        return out

    def _cid(self, code: int) -> int | None:
        """code → CID.  None when unmappable (predefined UCS-2 without
        registry tables, or an embedded CMap with no entry)."""
        if self.ucs2 or self.tounicode_only:
            return None
        if self.cid_chars is None and not self.cid_ranges:
            return code  # Identity
        if self.cid_chars is not None and code in self.cid_chars:
            return self.cid_chars[code]
        for lo, hi, cid in self.cid_ranges:
            if lo <= code <= hi:
                return cid + (code - lo)
        return None

    def decode(self, token: bytes) -> tuple[str, float]:
        """One string token (``(…)`` literal or ``<…>`` hex) →
        (text, advance in thousandths of the font size)."""
        if token.startswith(b"<"):
            hexstr = re.sub(rb"\s+", b"", token[1:-1])
            if len(hexstr) % 2:
                hexstr += b"0"  # spec: odd final digit pads with 0
            raw = bytes.fromhex(hexstr.decode("ascii"))
        else:
            raw = None
        if self.type0:
            if raw is None:  # literal strings carry multi-byte codes too
                raw = _decode_pdf_string_bytes(token[1:-1])
            parts: list[str] = []
            width = 0.0
            for code in self._codes(raw):
                cid = self._cid(code)
                # ToUnicode is keyed by character CODE (== CID only under
                # Identity); UCS-2 encodings carry the code point directly
                if code in self.to_unicode:
                    parts.append(self.to_unicode[code])
                elif self.tounicode_only:
                    raise ValueError(
                        f"code 0x{code:X} of a raw-charset predefined CMap "
                        "not covered by /ToUnicode — registry tables "
                        "required"
                    )
                elif self.ucs2:
                    parts.append(_safe_chr(code))
                else:
                    parts.append(_safe_chr(cid if cid is not None else code))
                width += (
                    (self.widths or {}).get(cid, self.default_w)
                    if cid is not None else self.default_w
                )
            return "".join(parts), width
        if raw is None:
            raw = _decode_pdf_string_bytes(token[1:-1])
        if self.charmap is None:
            text = raw.decode("latin-1")
        else:
            cm = self.charmap
            text = "".join(cm.get(b, chr(b)) for b in raw)
        # widths key by the CODE byte (not the mapped character)
        if self.widths is None:
            return text, len(raw) * 1000.0 * CHAR_WIDTH_FRAC
        width = sum(self.widths.get(b, self.default_w) for b in raw)
        return text, width


def _parse_w_array(src: bytes) -> dict[int, float]:
    """CIDFont /W array → {cid: width}: ``c [w1 w2 …]`` runs and
    ``c_first c_last w`` ranges."""
    out: dict[int, float] = {}
    toks = re.findall(rb"\[|\]|-?\d+(?:\.\d+)?", src)

    def flush_triplets(pend: list[float]) -> None:
        k = 0
        while k + 3 <= len(pend):
            first, last, w = pend[k : k + 3]
            for c in range(int(first), int(last) + 1):
                out[c] = w
            k += 3

    i = 0
    pend: list[float] = []
    while i < len(toks):
        t = toks[i]
        if t == b"[":
            if not pend:
                i += 1  # the enclosing /W array's own bracket
                continue
            start = int(pend[-1])
            flush_triplets(pend[:-1])  # ranges accumulated before the run
            pend = []
            i += 1
            j = 0
            while i < len(toks) and toks[i] != b"]":
                out[start + j] = float(toks[i])
                j += 1
                i += 1
            i += 1  # skip ]
        elif t == b"]":
            i += 1
        else:
            pend.append(float(t))
            i += 1
    flush_triplets(pend)  # trailing c_first c_last w ranges
    return out


def _parse_codespace(stream: bytes) -> list[tuple[int, int, int]]:
    """begincodespacerange sections of any CMap program →
    [(n_bytes, lo, hi)]; the hex-digit count of the low bound fixes the
    byte width.  Empty list when the CMap declares none."""
    codespace: list[tuple[int, int, int]] = []
    for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange",
                         stream, re.S):
        for pm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                              m.group(1)):
            lo_h, hi_h = pm.group(1), pm.group(2)
            nb = (len(lo_h) + 1) // 2
            if nb < 1 or nb > 4:
                raise ValueError("CMap codespace width outside 1-4 bytes")
            codespace.append((nb, int(lo_h, 16), int(hi_h, 16)))
    return codespace


# total ToUnicode entries cap: real subset fonts carry at most tens of
# thousands of mappings; a crafted bfrange <00000000> <FFFFFFFF> must
# not expand to 4G dict entries (the cidrange parser keeps ranges for
# the same reason — bfranges must expand, so they get a budget instead)
_TOUNICODE_MAX_ENTRIES = 1 << 20


def _parse_tounicode(stream: bytes) -> dict[int, str]:
    """ToUnicode CMap → {cid: str}: bfchar pairs and bfrange runs
    (contiguous and array-destination forms).  Raises ValueError when
    the expansion budget is exceeded (hostile ranges → triage, never
    an OOM'd task)."""
    out: dict[int, str] = {}

    def _chars(hexs: bytes) -> str:
        h = re.sub(rb"\s+", b"", hexs)
        raw = bytes.fromhex(h.decode("ascii"))
        return raw.decode("utf-16-be", "replace")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", stream, re.S):
        for pm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                              m.group(1)):
            out[int(pm.group(1), 16)] = _chars(pm.group(2))
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", stream, re.S):
        body = m.group(1)
        for rm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])",
            body,
        ):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            if hi - lo + 1 + len(out) > _TOUNICODE_MAX_ENTRIES:
                raise ValueError(
                    "ToUnicode bfrange expansion exceeds the "
                    f"{_TOUNICODE_MAX_ENTRIES}-entry budget"
                )
            if rm.group(4) is not None:  # contiguous destination
                base = rm.group(4)
                base_str = _chars(base)
                # increment applies to the LAST code unit per spec
                prefix, last = base_str[:-1], base_str[-1] if base_str else "\x00"
                for k in range(hi - lo + 1):
                    out[lo + k] = prefix + chr(ord(last) + k)
            else:  # array of destinations
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", rm.group(5))
                for k, d in enumerate(dsts):
                    if lo + k <= hi:
                        out[lo + k] = _chars(d)
    return out


def _parse_cid_cmap(
    stream: bytes,
) -> tuple[list[tuple[int, int, int]], dict[int, int],
           list[tuple[int, int, int]]]:
    """Embedded CID CMap program → (codespace, cid_chars, cid_ranges).

    Covers the constructs real embedded CMaps use (PDF 9.7.5.3 /
    Adobe CMap spec): begincodespacerange (1–4 byte codes, the hex-digit
    count of the low bound fixes the byte width), begincidchar pairs and
    begincidrange runs (kept as ranges — a hostile <00000000> <FFFFFFFF>
    run must not expand to 4G dict entries).  ``usecmap`` is accepted
    only for the Identity bases; any other base CMap is outside the
    subset and raises (→ needs_prechunk, never silent mojibake).
    """
    um = re.search(rb"/([A-Za-z0-9_.+-]+)\s+usecmap", stream)
    if um and um.group(1) not in (b"Identity-H", b"Identity-V"):
        raise ValueError(
            f"embedded CMap uses unsupported base {um.group(1).decode('latin-1')!r}"
        )
    codespace = _parse_codespace(stream)
    cid_chars: dict[int, int] = {}
    for m in re.finditer(rb"begincidchar(.*?)endcidchar", stream, re.S):
        for pm in re.finditer(rb"<([0-9A-Fa-f]+)>\s+(\d+)", m.group(1)):
            cid_chars[int(pm.group(1), 16)] = int(pm.group(2))
    cid_ranges: list[tuple[int, int, int]] = []
    for m in re.finditer(rb"begincidrange(.*?)endcidrange", stream, re.S):
        for pm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s+(\d+)", m.group(1)
        ):
            cid_ranges.append((
                int(pm.group(1), 16), int(pm.group(2), 16),
                int(pm.group(3)),
            ))
    if not codespace and not cid_chars and not cid_ranges and not um:
        raise ValueError("embedded /Encoding stream is not a CID CMap")
    return codespace or [(2, 0x0000, 0xFFFF)], cid_chars, cid_ranges


# predefined CMap names where the 2-byte code IS the UCS-2 code point
# (Adobe's UniXX-UCS2 family; H/V differ only in writing mode, which the
# block machinery renders as horizontal text either way)
_UCS2_CMAP_RE = re.compile(rb"Uni(?:GB|CNS|JIS|JISX0213|KS)-UCS2-[HV]$")


# Adobe Glyph List subset (public AGL data): the names real Latin-text
# subset fonts use in /Differences arrays.  Single-letter names map to
# themselves and uniXXXX/uXXXX names decode positionally, so only the
# multi-letter conventional names need a table.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ", "ffi": "ﬃ",
    "ffl": "ﬄ", "florin": "ƒ", "fraction": "⁄",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "perthousand": "‰", "trademark": "™",
    "copyright": "©", "registered": "®", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "section": "§", "paragraph": "¶",
    "periodcentered": "·", "middot": "·", "cent": "¢",
    "sterling": "£", "yen": "¥", "currency": "¤",
    "Euro": "€", "brokenbar": "¦", "exclamdown": "¡",
    "questiondown": "¿", "germandbls": "ß",
    "AE": "Æ", "ae": "æ", "OE": "Œ", "oe": "œ",
    "Oslash": "Ø", "oslash": "ø", "Aring": "Å",
    "aring": "å", "Ccedilla": "Ç", "ccedilla": "ç",
    "Ntilde": "Ñ", "ntilde": "ñ", "Atilde": "Ã",
    "atilde": "ã", "Otilde": "Õ", "otilde": "õ",
    "dotlessi": "ı", "Thorn": "Þ", "thorn": "þ",
    "Eth": "Ð", "eth": "ð", "mu": "µ",
    "Agrave": "À", "agrave": "à", "Aacute": "Á",
    "aacute": "á", "Acircumflex": "Â", "acircumflex": "â",
    "Adieresis": "Ä", "adieresis": "ä",
    "Egrave": "È", "egrave": "è", "Eacute": "É",
    "eacute": "é", "Ecircumflex": "Ê", "ecircumflex": "ê",
    "Edieresis": "Ë", "edieresis": "ë",
    "Igrave": "Ì", "igrave": "ì", "Iacute": "Í",
    "iacute": "í", "Icircumflex": "Î", "icircumflex": "î",
    "Idieresis": "Ï", "idieresis": "ï",
    "Ograve": "Ò", "ograve": "ò", "Oacute": "Ó",
    "oacute": "ó", "Ocircumflex": "Ô", "ocircumflex": "ô",
    "Odieresis": "Ö", "odieresis": "ö",
    "Ugrave": "Ù", "ugrave": "ù", "Uacute": "Ú",
    "uacute": "ú", "Ucircumflex": "Û", "ucircumflex": "û",
    "Udieresis": "Ü", "udieresis": "ü",
    "Yacute": "Ý", "yacute": "ý", "ydieresis": "ÿ",
    "Scaron": "Š", "scaron": "š", "Zcaron": "Ž",
    "zcaron": "ž", "Ydieresis": "Ÿ",
    "circumflex": "ˆ", "tilde": "˜", "macron": "¯",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "cedilla": "¸", "hungarumlaut": "˝", "ogonek": "˛",
    "caron": "ˇ", "minus": "−", "nbspace": " ",
    "ordfeminine": "ª", "ordmasculine": "º",
    "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "onesuperior": "¹",
    "twosuperior": "²", "threesuperior": "³",
    "logicalnot": "¬", "softhyphen": "­", "acute": "´",
}


def _glyph_char(name: str) -> str | None:
    """AGL glyph name → character, or None when unmappable."""
    if len(name) == 1:
        return name
    if name in _AGL:
        return _AGL[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        cp = int(m.group(1), 16)
        return chr(cp) if cp <= 0x10FFFF else None
    return None


def _parse_differences(src: bytes) -> dict[int, str]:
    """/Differences array → {code: glyph name}: integers set the next
    code, names assign consecutively."""
    out: dict[int, str] = {}
    code = 0
    for tok in re.findall(rb"/([A-Za-z0-9_.]+)|(-?\d+)", src):
        name, num = tok
        if num:
            code = int(num)
        else:
            out[code] = name.decode("latin-1")
            code += 1
    return out


def _simple_charmap(
    objects: dict[int, bytes], h: bytes, base_name: bytes | None,
) -> tuple[dict[int, str] | None, dict[int, str]]:
    """(code → char overrides, unmappable code → glyph name) for a
    simple font's /Encoding: named base encodings (WinAnsi ≈ cp1252,
    MacRoman) and /Differences glyph names.  None = default latin-1
    behavior.  Unmappable names are RETURNED, not raised — a
    /ToUnicode CMap (merged by the caller) frequently rescues subset
    names like /g3; only codes that stay unmapped after that merge may
    raise (silent mojibake otherwise)."""
    charmap: dict[int, str] = {}
    unmapped: dict[int, str] = {}
    diffs_src = None
    if base_name is None:
        enc = _dict_value(objects, h, b"Encoding")
        if enc is None:
            return None, {}
        eh = _head(enc)
        bm = re.search(rb"/BaseEncoding\s*/([A-Za-z0-9]+)", eh)
        base_name = bm.group(1) if bm else None
        dm = re.search(rb"/Differences\s*(\[)", eh)
        if dm:
            diffs_src = _balanced(eh, dm.start(1), b"[", b"]")
    if base_name == b"WinAnsiEncoding":
        for b in range(0x80, 0x100):
            try:
                charmap[b] = bytes([b]).decode("cp1252")
            except UnicodeDecodeError:
                pass
    elif base_name == b"MacRomanEncoding":
        for b in range(0x80, 0x100):
            charmap[b] = bytes([b]).decode("mac-roman")
    elif base_name not in (None, b"StandardEncoding", b"PDFDocEncoding"):
        raise ValueError(
            f"unsupported base encoding /{base_name.decode('latin-1')}"
        )
    if diffs_src:
        for code, gname in _parse_differences(diffs_src).items():
            ch = _glyph_char(gname)
            if ch is None:
                unmapped[code] = gname
            else:
                charmap[code] = ch
    return charmap or None, unmapped


def _load_font(objects: dict[int, bytes], body: bytes) -> _Font:
    """One /Font object body → _Font (metrics + decoding)."""
    h = _head(body)
    f = _Font()
    if re.search(rb"/Subtype\s*/Type0\b", h):
        f.type0 = True
        em = re.search(rb"/Encoding\s*/([A-Za-z0-9_.+-]+)", h)
        if em:
            name = em.group(1)
            if name in (b"Identity-H", b"Identity-V"):
                pass  # defaults: 2-byte codespace, CID = code
            elif _UCS2_CMAP_RE.search(name):
                f.ucs2 = True  # code = UCS-2 code point; widths via /DW
            else:
                # raw-charset predefined CMap (GBK-EUC-H, B5pc-H, …):
                # the code→CID map needs Adobe registry tables, which
                # can't honestly be reproduced from scratch — but many
                # real CJK files carry a /ToUnicode alongside, and
                # ToUnicode is keyed by character CODE, so TEXT (this
                # kernel's product) extracts without any registry.  The
                # codespace comes from the ToUnicode CMap's own
                # codespacerange (real generators mirror the encoding's
                # ranges there); widths fall back to /DW.  Without a
                # usable /ToUnicode the file still triages honestly.
                tu = _ref(h, b"ToUnicode")
                payload = (
                    _stream_payload(objects[tu], objects)
                    if tu is not None and tu in objects else None
                )
                if payload and _parse_tounicode(payload):
                    f.tounicode_only = True
                    cs = _parse_codespace(payload)
                    if cs:
                        f.codespace = cs
                else:
                    raise ValueError(
                        f"Type0 predefined encoding "
                        f"{name.decode('latin-1')!r} not supported "
                        "(needs Adobe registry tables, and no /ToUnicode "
                        "to fall back on)"
                    )
        else:
            enc = _ref(h, b"Encoding")
            if enc is None or enc not in objects:
                raise ValueError("Type0 font without a resolvable /Encoding")
            payload = _stream_payload(objects[enc], objects)
            if not payload:
                raise ValueError("Type0 /Encoding stream did not decode")
            f.codespace, chars, f.cid_ranges = _parse_cid_cmap(payload)
            f.cid_chars = chars or None
        desc = _dict_value(objects, h, b"DescendantFonts")
        if desc is None:
            raise ValueError("Type0 font without /DescendantFonts")
        dref = _REF_LIST_RE.search(desc)
        dh = _head(objects.get(int(dref.group(1)), b"")) if dref else desc
        dw = re.search(rb"/DW\s+(\d+(?:\.\d+)?)", dh)
        f.default_w = float(dw.group(1)) if dw else 1000.0
        w_src = _dict_value(objects, dh, b"W")
        f.widths = _parse_w_array(_head(w_src)) if w_src is not None else {}
        tu = _ref(h, b"ToUnicode")
        if tu is not None and tu in objects:
            payload = _stream_payload(objects[tu], objects)
            if payload:
                f.to_unicode = _parse_tounicode(payload)
        return f
    # simple font (Type1/TrueType/Type3): embedded /Widths beats
    # standard-14 beats estimate; /Encoding named bases + /Differences
    # glyph names and /ToUnicode override the raw latin-1 decode
    type3 = re.search(rb"/Subtype\s*/Type3\b", h) is not None
    bm = re.search(rb"/BaseFont\s*/([A-Za-z0-9_.+-]+)", h)
    base = bm.group(1).decode("latin-1") if bm else ""
    std = _std_widths(base) if base else None
    widths: dict[int, float] | None = (
        {k: float(v) for k, v in std.items()} if std else None
    )
    w_scale = 1.0
    if type3:
        # Type3 glyph space → text space via /FontMatrix; advances
        # convert to the same 1/1000-em units the other fonts use
        widths = None
        fmm = re.search(rb"/FontMatrix\s*(\[)", h)
        if fmm:
            vals = re.findall(
                rb"-?(?:\d+\.?\d*|\.\d+)",
                _balanced(h, fmm.start(1), b"[", b"]"),
            )
            if vals:
                w_scale = abs(float(vals[0])) * 1000.0
        else:
            w_scale = 0.001 * 1000.0  # spec default matrix [0.001 …]
    w_src = _dict_value(objects, h, b"Widths")
    if w_src is not None:
        fc = re.search(rb"/FirstChar\s+(\d+)", h)
        first = int(fc.group(1)) if fc else 0
        vals = re.findall(rb"-?\d+(?:\.\d+)?", _head(w_src))
        widths = dict(widths or {}) if not type3 else {}
        for i, v in enumerate(vals):
            widths[first + i] = float(v) * (w_scale if type3 else 1.0)
    f.widths = widths
    if widths:
        nonzero = [w for w in widths.values() if w > 0]
        if nonzero:
            f.default_w = sum(nonzero) / len(nonzero)
    em = re.search(rb"/Encoding\s*/([A-Za-z0-9]+)", h)
    f.charmap, unmapped = _simple_charmap(
        objects, h, em.group(1) if em else None)
    tu = _ref(h, b"ToUnicode")
    if tu is not None and tu in objects:
        payload = _stream_payload(objects[tu], objects)
        if payload:
            cm = dict(f.charmap or {})
            cm.update(_parse_tounicode(payload))  # ToUnicode wins
            f.charmap = cm or None
    still_unmapped = {c: g for c, g in unmapped.items()
                      if c not in (f.charmap or {})}
    if still_unmapped:
        code, gname = next(iter(still_unmapped.items()))
        raise ValueError(
            f"unmappable glyph name /{gname} in /Differences "
            "(and no /ToUnicode entry for its code)"
        )
    if type3 and f.charmap is None:
        raise ValueError(
            "Type3 font without /Differences or /ToUnicode — glyph "
            "procedures carry no text mapping"
        )
    return f


def _page_fonts(
    objects: dict[int, bytes], resources: bytes
) -> dict[bytes, _Font]:
    fonts: dict[bytes, _Font] = {}
    fdict = _dict_value(objects, resources, b"Font")
    if fdict is None:
        return fonts
    for m in re.finditer(rb"/([A-Za-z0-9_.+-]+)\s+(\d+)\s+\d+\s+R",
                         _head(fdict)):
        num = int(m.group(2))
        if num in objects:
            fonts[m.group(1)] = _load_font(objects, objects[num])
    return fonts


# ---------------------------------------------------------------------------
# String decoding
# ---------------------------------------------------------------------------

def _decode_pdf_string_bytes(raw: bytes) -> bytes:
    """(…) literal → raw bytes, handling \\ escapes and octal codes."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c == 0x5C and i + 1 < n:  # backslash
            nxt = raw[i + 1]
            if nxt in b"nrtbf":
                out.append({"n": 10, "r": 13, "t": 9, "b": 8, "f": 12}[chr(nxt)])
                i += 2
            elif 0x30 <= nxt <= 0x37:  # octal \nnn (1-3 digits)
                j = i + 1
                digits = b""
                while j < n and len(digits) < 3 and 0x30 <= raw[j] <= 0x37:
                    digits += raw[j : j + 1]
                    j += 1
                out.append(int(digits, 8) & 0xFF)
                i = j
            else:
                out.append(nxt)
                i += 2
        else:
            out.append(c)
            i += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# Text extraction (BT..ET state machine)
# ---------------------------------------------------------------------------

class _TextState:
    __slots__ = ("x", "y", "size", "leading", "line_x", "line_y",
                 "font", "char_sp", "word_sp")

    def __init__(self):
        self.x = self.y = 0.0
        self.size = 12.0
        self.leading = 0.0
        self.line_x = self.line_y = 0.0
        self.font: _Font | None = None
        self.char_sp = 0.0
        self.word_sp = 0.0


_FALLBACK_FONT = _Font()


def _blocks_from_stream(
    content: bytes, page_no: int, page_h: float, fonts: dict[bytes, _Font]
) -> list[dict]:
    blocks: list[dict] = []
    for bt in _BT_RE.finditer(content):
        st = _TextState()
        # x, y, size, text, measured width (pt)
        lines: list[tuple[float, float, float, str, float]] = []
        cur_text: list[str] = []
        cur_w = 0.0

        def show(token: bytes) -> None:
            nonlocal cur_w
            font = st.font or _FALLBACK_FONT
            text, w1000 = font.decode(token)
            cur_text.append(text)
            cur_w += (
                w1000 / 1000.0 * st.size
                + len(text) * st.char_sp
                + text.count(" ") * st.word_sp
            )

        def flush_line() -> None:
            nonlocal cur_w
            if cur_text:
                lines.append(
                    (st.line_x, st.line_y, st.size, "".join(cur_text), cur_w)
                )
                cur_text.clear()
            cur_w = 0.0

        stack: list[bytes] = []
        for tok in _TOKEN_RE.finditer(bt.group(1)):
            t = tok.group(0)
            if t[0] in _OPERAND_START:
                stack.append(t)
                continue
            op = t
            if op == b"Tf" and len(stack) >= 2:
                st.size = float(stack[-1])
                name = stack[-2]
                if name.startswith(b"/"):
                    st.font = fonts.get(name[1:])
            elif op == b"Tc" and stack:
                st.char_sp = float(stack[-1])
            elif op == b"Tw" and stack:
                st.word_sp = float(stack[-1])
            elif op in (b"Td", b"TD") and len(stack) >= 2:
                flush_line()
                st.x += float(stack[-2])
                st.y += float(stack[-1])
                if op == b"TD":
                    st.leading = -float(stack[-1])
                st.line_x, st.line_y = st.x, st.y
            elif op == b"TL" and stack:
                st.leading = float(stack[-1])
            elif op == b"T*":
                flush_line()
                st.y -= st.leading
                st.line_x, st.line_y = st.x, st.y
            elif op == b"Tm" and len(stack) >= 6:
                flush_line()
                st.x, st.y = float(stack[-2]), float(stack[-1])
                st.line_x, st.line_y = st.x, st.y
            elif op == b"Tj" and stack and (
                stack[-1].startswith(b"(") or stack[-1].startswith(b"<")
            ):
                show(stack[-1])
            elif op == b"'" and stack and (
                stack[-1].startswith(b"(") or stack[-1].startswith(b"<")
            ):
                flush_line()
                st.y -= st.leading
                st.line_x, st.line_y = st.x, st.y
                show(stack[-1])
            elif op == b"TJ" and stack and stack[-1].startswith(b"["):
                for s in _TJ_ITEM_RE.finditer(stack[-1][1:-1]):
                    item = s.group(0)
                    if item.startswith(b"(") or item.startswith(b"<"):
                        show(item)
                    else:  # kerning adjustment, thousandths of size
                        nonlocal_w = float(item) / 1000.0 * st.size
                        cur_w -= nonlocal_w
            stack.clear()
        flush_line()

        if not lines:
            continue
        size = max(s for _, _, s, _, _ in lines)
        min_x = min(x for x, _, _, _, _ in lines)
        top_y_pdf = max(y for _, y, _, _, _ in lines)
        bot_y_pdf = min(y for _, y, _, _, _ in lines)
        width = max(w for _, _, _, _, w in lines)
        if width <= 0.0:  # degenerate: fall back to the estimate
            width = max(len(t) for _, _, _, t, _ in lines) * size * CHAR_WIDTH_FRAC
        y0 = page_h - (top_y_pdf + size)  # top-down top edge
        y1 = page_h - bot_y_pdf + size * (LINE_LEADING_FRAC - 1.0)
        text = " ".join(t for _, _, _, t, _ in lines if t.strip())
        blocks.append({
            "page": page_no,
            "bbox": [round(min_x, 2), round(y0, 2),
                     round(min_x + width, 2), round(y1, 2)],
            "font_size": size,
            "text": text,
            "block_type_hint": None,
        })
    return blocks


# ---------------------------------------------------------------------------
# Inline images (BI … ID … EI)
# ---------------------------------------------------------------------------
# abbreviated inline-image filter names (ISO 32000 table 94)
_INLINE_FILTER_ABBREV = {
    b"AHx": b"ASCIIHexDecode", b"A85": b"ASCII85Decode",
    b"LZW": b"LZWDecode", b"Fl": b"FlateDecode", b"DCT": b"DCTDecode",
    b"RL": b"RunLengthDecode", b"CCF": b"CCITTFaxDecode",
}
_EI_RE = re.compile(rb"(?<=\s)EI(?=[\s]|\Z)")
_CS_COMPONENTS = {
    b"G": 1, b"DeviceGray": 1, b"RGB": 3, b"DeviceRGB": 3,
    b"CMYK": 4, b"DeviceCMYK": 4, b"I": 1, b"Indexed": 1,
}


def _find_operator(content: bytes, start: int, word: bytes):
    """The next OPERATOR token equal to ``word``, scanning token-wise —
    string literals are consumed whole, so 'BI'/'ID'/'EI' INSIDE page
    text (`(ask the BI desk) Tj`) can never match."""
    for tok in _TOKEN_RE.finditer(content, start):
        if tok.group(0) == word:
            return tok
    return None


def _inline_payload_end(
    content: bytes, header: bytes, data_start: int
) -> tuple[int, bool]:
    """(end offset (exclusive), exact) of an inline image's sample data.

    Uncompressed images have an exactly computable length
    (ceil(W*bpc*components/8)*H), so accidental ' EI ' bytes inside raw
    samples can't truncate them; filtered payloads fall back to the
    whitespace-delimited EI scan (the industry-standard heuristic — the
    format provides nothing better without decoding).  ``exact`` tells
    the caller whether trailing-whitespace stripping is safe (only on
    the scan path — exact-length samples may legitimately END in
    whitespace-valued bytes)."""
    has_filter = re.search(rb"/(?:F|Filter)\b", header) is not None
    if not has_filter:
        wm = re.search(rb"/(?:W|Width)\s+(\d+)", header)
        hm = re.search(rb"/(?:H|Height)\s+(\d+)", header)
        bm = re.search(rb"/(?:BPC|BitsPerComponent)\s+(\d+)", header)
        cm = re.search(rb"/(?:CS|ColorSpace)\s*/([A-Za-z0-9]+)", header)
        if wm and hm:
            bpc = int(bm.group(1)) if bm else 8
            ncomp = _CS_COMPONENTS.get(cm.group(1), 1) if cm else 1
            row = -(-(int(wm.group(1)) * bpc * ncomp) // 8)
            end = data_start + row * int(hm.group(1))
            if end <= len(content):
                return end, True
    eim = _EI_RE.search(content, data_start)
    if eim is None:
        raise ValueError("inline image: ID without a terminating EI")
    return eim.start(), False


def _extract_inline_images(
    content: bytes, page_no: int, ns: str = ""
) -> tuple[bytes, dict[bytes, tuple[str, bytes]]]:
    """Strip ``BI … ID … EI`` inline images from a content stream.

    The binary payload between ID and EI can contain accidental operator
    byte sequences (BT/ET/Do) that would corrupt tokenization, so the
    whole segment is replaced by a synthetic ``/__inline_k__ Do`` — the
    normal image pass then places it with the CTM active at that point.
    ``ns`` keeps refs unique across namespaces (page vs each form).
    Returns (cleaned content, {placeholder name: (media_ref, payload)}).

    A structurally broken inline image (BI without ID/EI) raises — the
    pre-chunker contract, never binary junk flowing into tokenization.
    Payloads run the shared filter pipeline exactly like XObjects
    (chains ending in DCTDecode yield the JPEG bytes); an undecodable
    chain keeps the raw bytes (a decorative image must not fail the
    page).
    """
    if b"BI" not in content:  # cheap bytes scan skips the token pass
        return content, {}
    out: dict[bytes, tuple[str, bytes]] = {}
    cleaned = bytearray()
    pos = 0
    k = 0
    while True:
        m = _find_operator(content, pos, b"BI")
        if m is None:
            cleaned += content[pos:]
            break
        idm = _find_operator(content, m.end(), b"ID")
        if idm is None:
            raise ValueError("inline image: BI without ID")
        header = content[m.end() : idm.start()]
        data_start = idm.end() + 1  # exactly one whitespace after ID
        data_end, exact = _inline_payload_end(content, header, data_start)
        payload = content[data_start:data_end]
        if not exact:  # EI-scan path: drop the separator before EI only
            payload = payload.rstrip(b"\r\n \t")
        eim = _EI_RE.search(content, data_end)
        if eim is None:
            raise ValueError("inline image: missing EI after sample data")
        fm = re.search(rb"/(?:F|Filter)\s*(\[[^\]]*\]|/[A-Za-z0-9]+)", header)
        names = re.findall(rb"/([A-Za-z0-9]+)", fm.group(1)) if fm else []
        names = [_INLINE_FILTER_ABBREV.get(n, n) for n in names]
        # forward /DP (DecodeParms) so predictor-coded inline samples
        # decode correctly instead of keeping their PNG row tags
        dp = re.search(rb"/(?:DP|DecodeParms)\s*<<(.*?)>>", header, re.S)
        dp_inner = b" " + dp.group(1) if dp else b""
        decoded = True
        if names:
            try:
                payload = _apply_filters(
                    b"/Filter [" + b" ".join(b"/" + n for n in names) + b"]"
                    + dp_inner,
                    payload,
                )
            except ValueError:
                decoded = False  # keep raw bytes; the ref is still placed
        ext = "jpeg" if decoded and b"DCTDecode" in names else "bin"
        name = f"__inline_{ns}{page_no}_{k}__".encode()
        ref = f"_page_{page_no}_{ns}inline{k}.{ext}"
        out[name] = (ref, bytes(payload))
        cleaned += content[pos : m.start()]
        cleaned += b" /" + name + b" Do "
        pos = eim.end()
        k += 1
    return bytes(cleaned), out


# ---------------------------------------------------------------------------
# Image XObjects (q/Q/cm tracked CTM + Do placement)
# ---------------------------------------------------------------------------

def _page_xobjects(
    objects: dict[int, bytes], resources: bytes
) -> dict[bytes, int]:
    """XObject resource name → object number (images resolved later)."""
    xdict = _dict_value(objects, resources, b"XObject")
    if xdict is None:
        return {}
    return {
        m.group(1): int(m.group(2))
        for m in re.finditer(rb"/([A-Za-z0-9_.+-]+)\s+(\d+)\s+\d+\s+R",
                             _head(xdict))
    }


def _mat_mul(m: list[float], n: list[float]) -> list[float]:
    """PDF 6-tuple matrix product m×n (apply m first, then n)."""
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return [
        a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2,
    ]


def _image_blocks(
    content: bytes,
    page_no: int,
    page_h: float,
    xobjects: dict[bytes, int],
    objects: dict[int, bytes],
    inline: dict[bytes, tuple[str, bytes]] | None = None,
    init_ctm: list[float] | None = None,
) -> tuple[list[dict], list[tuple[str, int]], list[dict], list[tuple[int, list[float]]]]:
    """One content stream → (media blocks, [(media_ref, xobject num)],
    inline-image payload rows, form invocations [(form num, CTM)]):
    track the CTM through q/Q/cm and place each image ``Do`` (XObject or
    extracted-inline placeholder) as the transformed unit square."""
    blocks: list[dict] = []
    used: list[tuple[str, int]] = []
    inline_media: list[dict] = []
    forms: list[tuple[int, list[float]]] = []
    seen_refs: set[str] = set()
    ctm = list(init_ctm) if init_ctm else [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    saved: list[list[float]] = []
    stack: list[bytes] = []

    def place(ref: str) -> None:
        xs, ys = [], []
        for u, v in ((0, 0), (1, 0), (0, 1), (1, 1)):
            a, b, c, d, e, f = ctm
            xs.append(a * u + c * v + e)
            ys.append(b * u + d * v + f)
        blocks.append({
            "page": page_no,
            "bbox": [round(min(xs), 2),
                     round(page_h - max(ys), 2),
                     round(max(xs), 2),
                     round(page_h - min(ys), 2)],
            "font_size": 1.0,
            "text": "",
            "block_type_hint": "figure",
            "media_ref": ref,
        })

    for tok in _TOKEN_RE.finditer(content):
        t = tok.group(0)
        if t[0] in _OPERAND_START:
            stack.append(t)
            continue
        op = t
        if op == b"q":
            saved.append(list(ctm))
        elif op == b"Q":
            if saved:
                ctm = saved.pop()
        elif op == b"cm" and len(stack) >= 6:
            try:
                mat = [float(v) for v in stack[-6:]]
            except ValueError:
                mat = None
            if mat is not None:
                ctm = _mat_mul(mat, ctm)
        elif op == b"Do" and stack and stack[-1].startswith(b"/"):
            name = stack[-1][1:]
            if inline and name in inline:
                ref, payload = inline[name]
                place(ref)
                if ref not in seen_refs:
                    seen_refs.add(ref)
                    inline_media.append({"media_ref": ref, "payload": payload})
                stack.clear()
                continue
            num = xobjects.get(name)
            if num is not None and num in objects:
                h = _head(objects[num])
                if re.search(rb"/Subtype\s*/Image\b", h):
                    ext = "jpeg" if b"/DCTDecode" in h else "bin"
                    # the object number disambiguates: page and form
                    # resource dicts can bind the SAME name to different
                    # images on one page
                    ref = (
                        f"_page_{page_no}_{name.decode('latin-1')}"
                        f"_obj{num}.{ext}"
                    )
                    place(ref)
                    if ref not in seen_refs:
                        seen_refs.add(ref)
                        used.append((ref, num))
                elif re.search(rb"/Subtype\s*/Form\b", h):
                    forms.append((num, list(ctm)))
        stack.clear()
    return blocks, used, inline_media, forms


def _media_rows(objects: dict[int, bytes],
                used: list[tuple[str, int]]) -> list[dict]:
    """One media row per placed image XObject (media_ref, object number):
    its raw bytes via the one shared stream reader (DCTDecode payloads
    pass through as the JPEG itself, other filters decode, and indirect
    /Length refs resolve; a duplicated reader here once truncated such
    payloads to the object number), plus :func:`_image_meta`."""
    return [{"media_ref": ref,
             "payload": _stream_payload(objects[num], objects) or b"",
             **_image_meta(objects, num)}
            for ref, num in used]


def _image_meta(objects: dict[int, bytes], num: int) -> dict:
    """Decode-relevant attributes from an image XObject header, attached
    to its media row: present only for 8-bit DeviceGray/DeviceRGB — the
    raw-pixel classes a downstream consumer (the OCR tier) can interpret
    when the payload is NOT a self-describing JPEG (FlateDecode scans)."""
    h = _head(objects.get(num, b""))
    wm = re.search(rb"/Width\s+(\d+)", h)
    hm = re.search(rb"/Height\s+(\d+)", h)
    bm = re.search(rb"/BitsPerComponent\s+(\d+)", h)
    cm = re.search(rb"/ColorSpace\s*/(DeviceGray|DeviceRGB)\b", h)
    if not (wm and hm and bm and cm):
        return {}
    bpc = int(bm.group(1))
    gray = cm.group(1) == b"DeviceGray"
    if bpc not in (8, 1) or (bpc == 1 and not gray):
        return {}
    return {"width": int(wm.group(1)), "height": int(hm.group(1)),
            "gray": gray, "bpc": bpc}


# ---------------------------------------------------------------------------
# Entry points
# ---------------------------------------------------------------------------

class PdfUnsupported(ValueError):
    """A PDF outside the built-in subset, with a triage ``category`` so
    a 100 TB ingest can route each class differently (the reference
    exposes ``force_ocr`` and Marker OCRs scanned pages,
    ``converters/extraction_converter.py:111-114``):

    - ``"encrypted"``   — needs decryption, no parser will help
    - ``"needs_ocr"``   — image-bearing but no text layer: an OCR pass
      (not a better parser) is the fix
    - ``"unsupported_feature"`` — digital text may exist but uses a
      feature this kernel doesn't decode; the external pre-chunker can
    """

    def __init__(self, message: str, category: str = "unsupported_feature"):
        super().__init__(message)
        self.category = category



def _page_rotation(objects: dict[int, bytes], num: int) -> int:
    """Effective /Rotate of a page (inheritable through /Parent,
    ISO 32000 7.7.3.4): normalized to 0/90/180/270; anything else
    (spec violation) reads as 0."""
    seen: set[int] = set()
    cur: int | None = num
    while cur is not None and cur not in seen:
        seen.add(cur)
        h = _head(objects.get(cur, b""))
        rm = re.search(rb"/Rotate\s+(-?\d+)", h)
        if rm:
            r = int(rm.group(1)) % 360
            return r if r in (90, 180, 270) else 0
        cur = _ref(h, b"Parent")
    return 0


def _rotate_bbox(bbox: list, rot: int, w: float, h: float) -> list:
    """Transform a top-down bbox from user space into the VISUAL page
    space a viewer shows after the clockwise /Rotate: reading order and
    column clustering must follow what a reader sees, not how the
    writer happened to lay the page out."""
    x0, t0, x1, t1 = bbox
    if rot == 90:
        out = [h - t1, x0, h - t0, x1]
    elif rot == 180:
        out = [w - x1, h - t1, w - x0, h - t0]
    elif rot == 270:
        out = [t0, w - x1, t1, w - x0]
    else:
        return bbox
    return [round(v, 2) for v in out]


def pdf_to_blocks_and_media(
    data: bytes,
    require_text: bool = True,
) -> tuple[list[dict], list[dict]]:
    """PDF bytes → (pdf_block dicts, media payload rows).

    Blocks are the layout kernel's input contract; media blocks carry
    ``media_ref`` and payload rows are ``{"media_ref", "payload"}`` for
    the K2 image sink.  Raises ValueError when the file is outside the
    supported subset — :class:`PdfUnsupported` with a triage category
    for encrypted / scanned(no-text-layer) / unsupported-feature, plain
    ValueError for malformed structure — the ingestion bridge maps both
    to keep-with-status rows, never silent loss.
    """
    if not bytes(data).startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    data = bytes(data)
    if b"/Encrypt" in data:
        # standard-security-handler files with an EMPTY user password
        # (the common owner-restricted class every viewer opens
        # silently) decrypt (kernels/pdf_crypt.py); anything else, and
        # an executor without the `cryptography` package pdf_crypt
        # imports, keeps the "encrypted" triage status
        objects = _split_objects(data)
        em = None
        for m in re.finditer(rb"/Encrypt\s+(\d+)\s+\d+\s+R", data):
            em = m  # last trailer wins (incremental updates)
        try:
            from parserpdf_spark.kernels.pdf_crypt import (
                build_decryptor,
                file_id0,
            )

            if em is None:
                raise ValueError("unresolvable /Encrypt reference")
            enc_num = int(em.group(1))
            if enc_num not in objects:
                raise ValueError("missing /Encrypt dictionary object")
            decryptor = build_decryptor(
                _head(objects[enc_num]), file_id0(data)
            )
        except ImportError as exc:
            raise PdfUnsupported(
                "encrypted PDF (decrypting needs the 'cryptography' "
                f"package: {exc})", category="encrypted"
            ) from exc
        except ValueError as exc:
            raise PdfUnsupported(
                f"encrypted PDF ({exc})", category="encrypted"
            ) from exc
        _decrypt_objects(objects, decryptor, skip={enc_num},
                         gens=_object_gens(data))
        _inline_objstm(objects)
    else:
        objects = _parse_objects(data)
    page_nums = _page_numbers(objects)

    _IDENTITY = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]

    def translation_of(ctm: list[float]) -> tuple[float, float]:
        """(dx, dy) for an identity-or-translation CTM; raises on any
        scale/rotation/shear — a form whose text placement we cannot
        reproduce exactly must go to the pre-chunker, never come out
        silently misplaced."""
        a, b, c, d, e, f = ctm
        if (abs(a - 1) > 1e-6 or abs(d - 1) > 1e-6
                or abs(b) > 1e-6 or abs(c) > 1e-6):
            raise ValueError(
                "form XObject placed with scale/rotation — external "
                "pre-chunker required"
            )
        return e, f

    blocks: list[dict] = []
    media: list[dict] = []
    n_text_blocks = 0
    for page_no, num in enumerate(page_nums):
        head = _head(objects[num])
        content = _content_stream(objects, head, num)
        mb = re.search(
            rb"/MediaBox\s*\[\s*[\d.-]+\s+[\d.-]+\s+([\d.]+)\s+([\d.]+)",
            head,
        )
        page_w = float(mb.group(1)) if mb else 612.0
        page_h = float(mb.group(2)) if mb else 842.0
        rotate = _page_rotation(objects, num)
        page_start = len(blocks)
        resources = _resources(objects, num)
        fonts = _page_fonts(objects, resources)
        content, inline = _extract_inline_images(content, page_no)
        text_blocks = _blocks_from_stream(content, page_no, page_h, fonts)
        blocks.extend(text_blocks)
        img_blocks, used, inline_media, forms = _image_blocks(
            content, page_no, page_h, _page_xobjects(objects, resources),
            objects, inline=inline,
        )
        blocks.extend(img_blocks)
        media.extend(inline_media)
        media.extend(_media_rows(objects, used))

        # form XObjects: their content contributes text/images at the
        # Do-time CTM — dropping it would be silent text loss.  Only
        # identity/translation placements are in scope (checked above).
        # A stamp form Do'd many times decodes once (cache per form).
        form_cache: dict[int, tuple] = {}
        for form_num, ctm in forms:
            fh = _head(objects[form_num])
            fmat = _dict_value(objects, fh, b"Matrix")
            if fmat is not None:
                # leading-dot forms ('.5', '-.25') must parse — a wrong
                # magnitude here is exactly the silent misplacement
                # translation_of exists to prevent
                vals = [float(v) for v in
                        re.findall(rb"-?(?:\d+\.?\d*|\.\d+)", _head(fmat))][:6]
                if vals and vals != _IDENTITY:
                    ctm = _mat_mul(vals, ctm)
            dx, dy = translation_of(ctm)
            if form_num in form_cache:
                f_content, f_inline, f_fonts, f_res = form_cache[form_num]
            else:
                payload = _stream_payload(objects[form_num], objects)
                if payload is None:
                    raise ValueError(
                        f"form XObject {form_num} without a stream"
                    )
                f_res = _dict_value(objects, fh, b"Resources")
                f_fonts = (
                    _page_fonts(objects, f_res) if f_res is not None else fonts
                )
                f_content, f_inline = _extract_inline_images(
                    payload, page_no, ns=f"f{form_num}_"
                )
                form_cache[form_num] = (f_content, f_inline, f_fonts, f_res)
            f_text = _blocks_from_stream(f_content, page_no, page_h, f_fonts)
            f_imgs, f_used, f_inline_media, f_forms = _image_blocks(
                f_content, page_no, page_h,
                _page_xobjects(objects, f_res if f_res is not None else resources),
                objects, inline=f_inline, init_ctm=ctm,
            )
            if f_forms:
                raise ValueError(
                    "nested form XObjects — external pre-chunker required"
                )
            for tb in f_text:  # translate into page space (top-down y)
                x0, y0, x1, y1 = tb["bbox"]
                tb["bbox"] = [round(x0 + dx, 2), round(y0 - dy, 2),
                              round(x1 + dx, 2), round(y1 - dy, 2)]
            # f_imgs already placed via init_ctm
            blocks.extend(f_text)
            blocks.extend(f_imgs)
            media.extend(f_inline_media)
            media.extend(_media_rows(objects, f_used))
            n_text_blocks += len(f_text)
        n_text_blocks += len(text_blocks)
        if rotate:
            # into VISUAL space: what a viewer shows after the
            # clockwise /Rotate.  Figure blocks additionally remember
            # the rotation so the OCR tier can upright their pixels.
            for b in blocks[page_start:]:
                b["bbox"] = _rotate_bbox(b["bbox"], rotate, page_w, page_h)
                if b.get("media_ref"):
                    b["page_rotate"] = rotate
    if n_text_blocks == 0 and require_text:
        # require_text=False is the OCR-routing mode: a scanned PDF's
        # page images still flow to the media sink, where an OCR fleet
        # picks them up — the triage status says WHY, the payloads say
        # WHAT to OCR
        n_imgs = sum(1 for b in blocks if b.get("media_ref")) or len(media)
        if n_imgs:
            raise PdfUnsupported(
                f"no text layer but {n_imgs} image(s) present — "
                "scanned PDF, OCR required", category="needs_ocr",
            )
        raise PdfUnsupported(
            "no extractable text and no images",
            category="unsupported_feature",
        )
    # page and form resource namespaces can reuse XObject names: one
    # payload per distinct media_ref
    seen: set[str] = set()
    media = [
        m for m in media
        if not (m["media_ref"] in seen or seen.add(m["media_ref"]))
    ]
    return blocks, media


def pdf_to_blocks(data: bytes) -> list[dict]:
    """PDF bytes → pdf_block dicts (text + media blocks); see
    :func:`pdf_to_blocks_and_media` for the payload-carrying form."""
    return pdf_to_blocks_and_media(data)[0]
