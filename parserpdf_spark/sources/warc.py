"""WARC ingestion — the web-archive format web-scale corpora ship in.

The reference ingests loose files from disk; a 100 TB crawl corpus
arrives instead as WARC containers (millions of HTTP captures per
file).  This module parses WARC/1.0 from scratch with the stdlib
(record framing per ISO 28500: header block, CRLFCRLF, Content-Length
payload, CRLFCRLF gap) and bridges ``response`` records carrying HTML
into the engine's canonical docs table, so
``scan → warc_to_docs → extract_docs`` runs end-to-end from crawl data.

Keep-with-status like sources/files.py: every record yields one row —
``ok`` (HTML response, decoded into a ``kind="html"`` span), ``skipped``
(non-response record types, non-HTML content types), or ``error``
(undecodable payload).  Gzip (including the usual member-per-record
.warc.gz layout) is transparent — and decompressed *incrementally*
(``zlib.decompressobj`` with bounded-size output chunks, records drained
from the buffer as they complete), so a 1 GB archive that inflates 4-5×
never materializes whole in worker memory: the high-water mark is
O(largest record), not O(file).

Scale shape: one ``schema.map_rows`` pass (a ``mapInArrow``) over
(path, content) Arrow batches; a WARC file is the natural work unit
(binaryFile gives one split per file, and real crawls ship ~1 GB files
by convention).
"""

from __future__ import annotations

import zlib
from typing import Any, Iterator

from pyspark.sql import DataFrame

from parserpdf_spark.schema import SPANS_DDL, map_rows

WARC_DOCS_DDL = (
    "doc_id string, src_path string, record_uri string, "
    "record_type string, content_type string, ingest_status string, "
    f"ingest_error string, spans {SPANS_DDL}"
)

# incremental-gunzip output quantum: bounds the decompressed bytes held
# beyond the current record buffer (1 MiB per in-flight task)
_INFLATE_CHUNK = 1 << 20


def _iter_inflated(data: bytes, out_chunk: int = _INFLATE_CHUNK) -> Iterator[bytes]:
    """Concatenated-member gzip → decompressed chunks of ≤ out_chunk.

    The compressed bytes are already in memory (binaryFile hands whole
    files); what this bounds is the 4-5× *inflated* side — each
    ``max_length``-capped ``decompress`` call yields at most one chunk,
    and the caller consumes records between chunks.  Raises ValueError
    (never zlib.error) on corrupt/truncated deflate bodies, keeping the
    module's keep-with-status contract for broken crawl files.
    """
    buf = bytes(data)
    while buf:
        d = zlib.decompressobj(zlib.MAX_WBITS | 16)  # gzip member framing
        feed = buf
        try:
            while not d.eof:
                out = d.decompress(feed, out_chunk)
                feed = d.unconsumed_tail
                if out:
                    yield out
                elif not feed and not d.eof:
                    raise ValueError("truncated gzip member")
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member: {exc}") from exc
        buf = d.unused_data
        if buf and buf[:2] != b"\x1f\x8b":
            raise ValueError("trailing garbage after gzip member")


def _next_record(
    buf: bytes, pos: int, final: bool
) -> tuple[dict[str, Any] | None, int]:
    """Scan ONE record starting at ``pos``: (record, new_pos), or
    (None, pos) when more bytes are needed (or the buffer is cleanly
    exhausted).  ``final`` decides whether an incomplete tail means
    'more chunks coming' (wait) or structural truncation (raise);
    malformed bytes (bad version line, bad Content-Length) raise
    unconditionally — but only after earlier records already streamed
    out, so breakage never discards parsed records."""
    n = len(buf)
    while buf[pos : pos + 2] == b"\r\n":
        pos += 2
    if pos >= n:
        return None, pos
    head_end = buf.find(b"\r\n\r\n", pos)
    if head_end < 0:
        if final:
            raise ValueError(f"unterminated record header at offset {pos}")
        return None, pos
    lines = buf[pos:head_end].decode("utf-8", "replace").split("\r\n")
    if not lines[0].startswith("WARC/"):
        raise ValueError(f"missing WARC version line at offset {pos}")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, _, value = line.partition(":")
        headers[name.strip().lower()] = value.strip()
    try:
        length = int(headers.get("content-length", ""))
    except ValueError as exc:
        raise ValueError(f"bad Content-Length at offset {pos}") from exc
    if head_end + 4 + length > n:
        if final:
            raise ValueError(f"truncated payload at offset {pos}")
        return None, pos
    record = {
        "headers": headers,
        # bytes() matters: the caller's buffer may be a bytearray
        "body": bytes(buf[head_end + 4 : head_end + 4 + length]),
    }
    return record, head_end + 4 + length


def iter_warc_records(
    data: bytes, out_chunk: int = _INFLATE_CHUNK
) -> Iterator[dict[str, Any]]:
    """WARC bytes (plain or .gz) → {headers: {lower: value}, body: bytes}
    per record, incrementally: gzip members inflate in bounded chunks and
    each record is yielded (and dropped from the buffer) as soon as its
    payload is complete.

    Raises ValueError on structurally broken input (corrupt deflate,
    missing WARC/ version line, truncated payload) — callers wrap
    per-file; records yielded before the break are never lost.
    """
    data = bytes(data)
    if data[:2] == b"\x1f\x8b":
        chunks: Iterator[bytes] = _iter_inflated(data, out_chunk)
    else:
        chunks = iter((data,))
    # bytearray append + deferred compaction: rebuilding the buffer per
    # chunk while a large record is still incomplete would cost
    # O(record²/chunk) byte copies
    buf, pos = bytearray(), 0
    for chunk in chunks:
        buf += chunk
        while True:
            rec, pos = _next_record(buf, pos, final=False)
            if rec is None:
                break
            yield rec
        if pos > out_chunk:  # drop consumed bytes once they amortize
            del buf[:pos]
            pos = 0
    while True:
        rec, pos = _next_record(buf, pos, final=True)
        if rec is None:
            break
        yield rec


def _split_http(body: bytes) -> tuple[str, bytes]:
    """HTTP response bytes → (content-type, payload bytes)."""
    sep = body.find(b"\r\n\r\n")
    if sep < 0:
        return "", body
    ctype = ""
    for line in body[:sep].decode("latin-1").split("\r\n")[1:]:
        name, _, value = line.partition(":")
        if name.strip().lower() == "content-type":
            ctype = value.strip()
    return ctype, body[sep + 4 :]


def _doc_id_from_uri(uri: str) -> str:
    """URI → doc id: the path basename without extension (crawl files
    name captures by page), query/fragment stripped."""
    tail = uri.split("?", 1)[0].split("#", 1)[0].rstrip("/").rsplit("/", 1)[-1]
    stem, dot, _ = tail.rpartition(".")
    return stem if dot else tail


def _error_row(path: str, msg: str) -> dict[str, Any]:
    return {
        "doc_id": None, "src_path": path, "record_uri": None,
        "record_type": None, "content_type": None,
        "ingest_status": "error", "ingest_error": msg, "spans": [],
    }


def _record_row(path: str, rec: dict[str, Any]) -> dict[str, Any]:
    """One parsed WARC record → one keep-with-status row."""
    headers = rec["headers"]
    rtype = headers.get("warc-type", "")
    uri = headers.get("warc-target-uri", "")
    row: dict[str, Any] = {
        "doc_id": _doc_id_from_uri(uri) if uri else None,
        "src_path": path,
        "record_uri": uri or None,
        "record_type": rtype or None,
        "content_type": None,
        "ingest_status": "skipped",
        "ingest_error": None,
        "spans": [],
    }
    if rtype != "response":
        row["ingest_error"] = f"record type {rtype!r} is not a capture"
        return row
    ctype, payload = _split_http(rec["body"])
    row["content_type"] = ctype.split(";", 1)[0].strip() or None
    if row["content_type"] not in ("text/html", "application/xhtml+xml"):
        row["ingest_error"] = f"content type {row['content_type']!r}"
        return row
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError as exc:
        row["ingest_status"] = "error"
        row["ingest_error"] = f"UnicodeDecodeError: {exc}"
        return row
    row["ingest_status"] = "ok"
    row["spans"] = [
        {"kind": "html", "text": text, "media_ref": None, "offset": 0}
    ]
    return row


def iter_warc_file_rows(path: str, data: bytes) -> Iterator[dict[str, Any]]:
    """One WARC file → one row per record, streamed (records leave the
    decompression buffer as soon as they complete — the memory
    high-water mark is one record, not one archive).

    Keep-with-status on breakage: records parsed before a structural
    break are kept, and the break itself becomes a trailing ``error``
    row (a garbage file breaks at record 0 → exactly one error row).
    """
    n_records = 0
    try:
        for rec in iter_warc_records(data):
            n_records += 1
            yield _record_row(path, rec)
    except (ValueError, OSError, EOFError) as exc:
        prefix = (
            "unparseable WARC" if n_records == 0
            else f"WARC broke after {n_records} records"
        )
        yield _error_row(path, f"{prefix}: {exc}")
        return
    if n_records == 0:
        # keep-with-status: an empty/recordless file must not vanish
        yield _error_row(path, "WARC contains no records")


def warc_file_rows(path: str, data: bytes) -> list[dict[str, Any]]:
    """Materialized :func:`iter_warc_file_rows` (pure python; reused by
    the golden generator so goldens stay independent of the Spark path)."""
    return list(iter_warc_file_rows(path, bytes(data)))


def warc_to_docs(files: DataFrame) -> DataFrame:
    """binaryFile scan of .warc/.warc.gz → per-record rows with ingest
    status; filter ``ingest_status == 'ok'`` and select (doc_id, spans)
    for the extraction stage.

    The row map emits an output batch every ``schema.ROW_MAP_BATCH``
    records while the incremental gunzip is still draining the archive,
    so worker memory holds the compressed input + O(one record + one
    batch), never the whole inflated file.
    """
    return map_rows(files, ["path", "content"], iter_warc_file_rows,
                    WARC_DOCS_DDL)
