"""File-source scans — the reference's recursive path collectors
re-expressed as Spark readers.

Reference parity (SURVEY.md §2.1), each collector one glob call:
- S1 ``collect_pdf_paths``      (``utils/file_utils.py:442-450``):
  ``scan_files(spark, root, "*.pdf")``
- S2 ``collect_html_paths``     (``:452-463``): ``scan_multi(spark,
  root, ["*.html", "*.htm"])`` — the reference's 2-arg
  ``rglob("*.html", ".htm")`` bug silently drops ``.htm``; here the
  pattern list is explicit
- S3 ``collect_pdf_html_paths`` (``:427-440``, chained rglobs):
  ``scan_multi`` over both patterns
- S4 ``collect_markdown_paths`` (``:465-471``): ``scan_files(spark,
  root, "*.md")``

The F1/F2 extension gate is ``sources/files.route_file``'s ``skipped``
status: an unknown extension becomes a status row, never a silent drop.

Spark shape: the ``binaryFile`` source with ``pathGlobFilter`` +
``recursiveFileLookup`` — the scan itself is distributed, pushdown
applies to the glob, and the result is a DataFrame of
(path, modificationTime, length, content) instead of a driver-side
``list[Path]`` — the difference between 10^3 and 10^9 files.

Caveat (Spark source behavior, verified): **zero-byte files are not
listed** by the binaryFile source (no splits → no rows), so they bypass
the bridges' keep-with-status rows entirely.  Recordless-but-nonempty
files DO surface as error rows.  Audit empty files at the storage layer
if their absence matters.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession


def scan_files(
    spark: SparkSession,
    root: str,
    glob: str,
    with_content: bool = False,
) -> DataFrame:
    """One recursive glob scan → (path, modificationTime, length[, content])."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    cols = ["path", "modificationTime", "length"]
    if with_content:
        cols.append("content")
    return df.select(*cols)


def scan_multi(
    spark: SparkSession, root: str, globs: list[str], **kw
) -> DataFrame:
    """S3/U2: multi-pattern scan as per-pattern scans + unionByName
    (each glob still pushes down to the file index)."""
    scans = [scan_files(spark, root, g, **kw) for g in globs]
    return reduce(lambda a, b: a.unionByName(b), scans)

