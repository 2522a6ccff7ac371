"""WARC source (sources/warc.py): stdlib record parsing + the
record→docs bridge, end-to-end on the committed crawl fixtures."""

import gzip
import os

import pytest
from pyspark.sql import functions as F

from parserpdf_spark.sources.warc import (
    _doc_id_from_uri,
    iter_warc_records,
    warc_file_rows,
    warc_to_docs,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "fixtures", "warc")


def _read(name: str) -> bytes:
    with open(os.path.join(FIXTURES, name), "rb") as fh:
        return fh.read()


def test_parse_warc_record_framing():
    recs = list(iter_warc_records(_read("crawl_0.warc")))
    assert len(recs) == 9  # warcinfo + 6 html + request + jpeg
    assert recs[0]["headers"]["warc-type"] == "warcinfo"
    types = [r["headers"]["warc-type"] for r in recs]
    assert types.count("response") == 7 and types.count("request") == 1
    # Content-Length framing survives payloads containing CRLFCRLF
    for r in recs:
        assert len(r["body"]) == int(r["headers"]["content-length"])


def test_parse_warc_gzip_transparent():
    plain = gzip.decompress(_read("crawl_2.warc.gz"))
    gz = _read("crawl_2.warc.gz")
    assert list(iter_warc_records(gz)) == list(iter_warc_records(plain))


def test_parse_warc_rejects_garbage():
    with pytest.raises(ValueError, match="WARC"):
        list(iter_warc_records(b"HTTP/1.1 200 OK\r\n\r\nnot a warc\r\n\r\n"))
    with pytest.raises(ValueError, match="at offset"):
        good = _read("crawl_0.warc")
        list(iter_warc_records(good[: len(good) // 2]))
    with pytest.raises(ValueError, match="truncated"):
        good = _read("crawl_0.warc")
        list(iter_warc_records(good[:170]))  # cuts inside the first record's payload


def test_parse_warc_corrupt_deflate_is_valueerror_not_zlib_error():
    """Valid gzip magic + corrupt deflate body must surface as the
    module's ValueError contract (→ one error row), never a raw
    zlib.error that kills the Spark task."""
    gz = bytearray(gzip.compress(_read("crawl_0.warc")))
    gz[20:28] = b"\x00" * 8  # stomp the deflate stream mid-body
    with pytest.raises(ValueError, match="gzip"):
        list(iter_warc_records(bytes(gz)))
    rows = warc_file_rows("/x/corrupt.warc.gz", bytes(gz))
    assert rows[-1]["ingest_status"] == "error"
    assert "gzip" in rows[-1]["ingest_error"]


def test_warc_multimember_gz_streams_bounded():
    """Member-per-record .warc.gz (the real crawl layout) parses
    identically to the plain file through the incremental path, and the
    parse buffer never holds more than ~one record + one inflate chunk."""
    import parserpdf_spark.sources.warc as W

    plain = _read("crawl_0.warc")
    records = list(iter_warc_records(plain))
    # re-frame each record as its own gzip member
    offsets, pos = [], 0
    multimember = b""
    for rec in records:
        head_end = plain.find(b"\r\n\r\n", pos)
        end = head_end + 4 + int(rec["headers"]["content-length"]) + 4
        multimember += gzip.compress(plain[pos:end])
        pos = end
    assert pos == len(plain)

    max_buf = 0
    real_next = W._next_record

    def spy(buf, pos, final):
        nonlocal max_buf
        max_buf = max(max_buf, len(buf) - pos)
        return real_next(buf, pos, final)

    W._next_record = spy
    try:
        out_chunk = 512
        got = list(W.iter_warc_records(multimember, out_chunk=out_chunk))
    finally:
        W._next_record = real_next
    assert got == records
    biggest = max(
        len(r["body"]) + len(str(r["headers"])) + 64 for r in records
    )
    assert max_buf <= biggest + 2 * out_chunk


def test_warc_midfile_break_keeps_parsed_records():
    """Truncation after N good records keeps those records and appends
    one trailing error row (keep-with-status, no silent loss)."""
    plain = _read("crawl_0.warc")
    head_end = plain.find(b"\r\n\r\n")
    first_len = int(
        dict(
            line.split(": ", 1)
            for line in plain[5:head_end].decode().split("\r\n")[1:]
        )["Content-Length"]
    )
    cut = head_end + 4 + first_len + 4 + 100  # inside record 2
    rows = warc_file_rows("/x/cut.warc", plain[:cut])
    assert rows[0]["record_type"] == "warcinfo"
    assert rows[-1]["ingest_status"] == "error"
    assert "after 1 records" in rows[-1]["ingest_error"]


def test_warc_file_rows_statuses():
    rows = warc_file_rows("/x/crawl_0.warc", _read("crawl_0.warc"))
    by_status: dict[str, int] = {}
    for r in rows:
        by_status[r["ingest_status"]] = by_status.get(r["ingest_status"], 0) + 1
    assert by_status == {"ok": 6, "skipped": 3}
    # garbage file → single error row, not an exception
    bad = warc_file_rows("/x/bad.warc", b"garbage bytes")
    assert len(bad) == 1 and bad[0]["ingest_status"] == "error"


def test_doc_id_from_uri():
    assert _doc_id_from_uri("https://a.b/docs/doc_5.html") == "doc_5"
    assert _doc_id_from_uri("https://a.b/docs/doc_5.html?utm=x#frag") == "doc_5"
    assert _doc_id_from_uri("https://a.b/page/") == "page"
    assert _doc_id_from_uri("https://a.b/noext") == "noext"


def test_warc_to_extraction_end_to_end(spark):
    from parserpdf_spark.operators.extract import extract_docs
    from parserpdf_spark.sources.scans import scan_multi

    files = scan_multi(spark, FIXTURES, ["*.warc", "*.warc.gz"],
                       with_content=True)
    rows = warc_to_docs(files)
    statuses = {
        r["ingest_status"]: r["n"]
        for r in rows.groupBy("ingest_status").agg(F.count("*").alias("n")).collect()
    }
    assert statuses == {"ok": 16, "skipped": 3, "error": 1}

    docs = rows.filter(F.col("ingest_status") == "ok").select("doc_id", "spans")
    extracted, metrics = extract_docs(docs)
    assert metrics.filter(F.col("status") != "ok").count() == 0

    golden = spark.read.parquet(os.path.join(REPO, "goldens", "extract_warc.parquet"))
    got = {tuple(r) for r in extracted.collect()}
    want = {tuple(r) for r in golden.select(*extracted.columns).collect()}
    assert got == want


def test_extract_job_over_warc_dir(spark, tmp_path):
    """The job CLI auto-detects a WARC input dir and reports per-record
    ingest statuses alongside extraction statuses."""
    import io
    import json
    from contextlib import redirect_stdout

    from parserpdf_spark.jobs.extract_job import main

    out = str(tmp_path / "warcjob")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["--input", FIXTURES, "--output", out, "--chunks", "2"],
                  spark=spark)
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["files_by_ingest_status"] == {
        "ok": 16, "skipped": 3, "error": 1,
    }
    assert report["docs_by_status"] == {"ok": 16}
