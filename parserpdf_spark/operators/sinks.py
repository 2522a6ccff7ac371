"""Export sinks: per-document markdown files + media manifests.

The canonical store is the relational ``extracted`` table (chunked
parquet, plans/checkpoint.py); these sinks materialize the reference's
on-disk layout from it when a consumer needs files:

- K1 markdown sink (reference ``utils/file_utils.py:474-558``): one
  ``{out}/{doc_id}/{doc_id}.md`` per document, image spans rendered as
  ``![](ref)`` lines exactly like the golden artifact.
- K2 image sink (reference ``:562-626``): payloads live outside the
  engine (the reference also writes them straight to disk); we emit the
  per-doc media manifest (ref list) the writer needs.

Distribution: one ``mapInArrow`` pass — each executor writes its own
docs, no driver collect.  Only the export is file-per-doc; at 10^12 docs
you export *selections*, not the corpus.
"""

from __future__ import annotations

import functools
import os

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F


def render_markdown_col(extracted: DataFrame) -> DataFrame:
    """(doc_id, markdown, media_refs) — the assembled export view."""
    rendered = F.when(
        F.col("kind") == "image",
        F.concat(F.lit("![]("), F.coalesce(F.col("media_ref"), F.lit("")), F.lit(")")),
    ).otherwise(F.col("text"))
    return (
        extracted.select("doc_id", "offset", rendered.alias("md"), "media_ref")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("offset", "md"))),
                    lambda s: s["md"],
                ),
            ).alias("markdown"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("media_ref").isNotNull(),
                           F.struct("offset", "media_ref"))
                )
            ).alias("_refs"),
        )
        .select(
            "doc_id",
            "markdown",
            F.transform(F.col("_refs"), lambda s: s["media_ref"]).alias(
                "media_refs"
            ),
        )
    )


def _json_escape(col):
    """Deterministic JSON string escaping, identical in any engine that
    has replace(): backslash first, then quote and the control chars the
    kernels can emit (\\n in table/list/code spans, \\t, \\r).  Spark's
    ``to_json`` exists but serializes differently from other engines
    (null-field elision, escaping details), so the export view defines
    its own canonical form — valid JSON for the kernel output charset."""
    s = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    s = F.replace(s, F.lit('"'), F.lit('\\"'))
    s = F.replace(s, F.lit("\n"), F.lit("\\n"))
    s = F.replace(s, F.lit("\t"), F.lit("\\t"))
    s = F.replace(s, F.lit("\r"), F.lit("\\r"))
    return s


def _html_escape(col):
    s = F.replace(col, F.lit("&"), F.lit("&amp;"))
    s = F.replace(s, F.lit("<"), F.lit("&lt;"))
    s = F.replace(s, F.lit(">"), F.lit("&gt;"))
    return s


def render_json_col(extracted: DataFrame) -> DataFrame:
    """F5 json view (reference ``utils/file_utils.py:523-548``,
    ``output_handler`` picking the json writer): (doc_id, json) — one
    JSON array per document of offset-ordered span objects
    ``{"kind":…,"text":…,"media_ref":…,"offset":…}``."""
    span_json = F.concat(
        F.lit('{"kind":"'),
        F.col("kind"),
        F.lit('","text":"'),
        _json_escape(F.coalesce(F.col("text"), F.lit(""))),
        F.lit('","media_ref":'),
        F.when(
            F.col("media_ref").isNull(), F.lit("null")
        ).otherwise(F.concat(F.lit('"'), _json_escape(F.col("media_ref")), F.lit('"'))),
        F.lit(',"offset":'),
        F.col("offset").cast("string"),
        F.lit("}"),
    )
    return (
        extracted.select("doc_id", "offset", span_json.alias("j"))
        .groupBy("doc_id")
        .agg(
            F.concat(
                F.lit("["),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("offset", "j"))),
                        lambda s: s["j"],
                    ),
                ),
                F.lit("]"),
            ).alias("json")
        )
    )


def _span_html():
    """One extracted span → an HTML block element (markdown structure
    re-expanded: heading level from the ``#`` run, list items from
    ``- `` lines, pipe tables to table rows).  Limitation: literal ``|``
    inside a table cell is treated as a separator."""
    text = F.coalesce(F.col("text"), F.lit(""))
    esc = _html_escape(text)
    level = F.length(F.regexp_extract(text, r"^(#+) ", 1))
    heading = F.concat(
        F.lit("<h"), level.cast("string"), F.lit(">"),
        _html_escape(F.regexp_replace(text, r"^#+ ", "")),
        F.lit("</h"), level.cast("string"), F.lit(">"),
    )
    items = F.concat_ws(
        "",
        F.transform(
            F.split(text, "\n"),
            lambda line: F.concat(
                F.lit("<li>"),
                _html_escape(F.regexp_replace(line, r"^- ", "")),
                F.lit("</li>"),
            ),
        ),
    )
    cells = lambda row: F.filter(  # noqa: E731
        F.transform(F.split(row, r"\|"), lambda c: F.trim(c)),
        lambda c: c != F.lit(""),
    )
    table_rows = F.concat_ws(
        "",
        F.transform(
            F.split(text, "\n"),
            lambda row, i: F.when(i == 1, F.lit("")).otherwise(  # separator row
                F.concat(
                    F.lit("<tr>"),
                    F.concat_ws(
                        "",
                        F.transform(
                            cells(row),
                            lambda c, j=None: F.concat(
                                F.when(i == 0, F.lit("<th>")).otherwise(F.lit("<td>")),
                                _html_escape(c),
                                F.when(i == 0, F.lit("</th>")).otherwise(F.lit("</td>")),
                            ),
                        ),
                    ),
                    F.lit("</tr>"),
                )
            ),
        ),
    )
    return (
        F.when(F.col("kind") == "heading", heading)
        .when(F.col("kind") == "para", F.concat(F.lit("<p>"), esc, F.lit("</p>")))
        .when(
            F.col("kind") == "caption",
            F.concat(F.lit("<figcaption>"), esc, F.lit("</figcaption>")),
        )
        .when(
            F.col("kind") == "image",
            F.concat(
                F.lit('<img src="'),
                _html_escape(F.coalesce(F.col("media_ref"), F.lit(""))),
                F.lit('"/>'),
            ),
        )
        .when(
            F.col("kind") == "code",
            F.concat(F.lit("<pre><code>"), esc, F.lit("</code></pre>")),
        )
        .when(F.col("kind") == "list", F.concat(F.lit("<ul>"), items, F.lit("</ul>")))
        .when(
            F.col("kind") == "table",
            F.concat(F.lit("<table>"), table_rows, F.lit("</table>")),
        )
        .otherwise(F.concat(F.lit("<p>"), esc, F.lit("</p>")))
    )


def render_html_col(extracted: DataFrame) -> DataFrame:
    """F5 html view: (doc_id, html) — offset-ordered block elements
    wrapped in ``<article>``, the reference's html output format
    re-expressed over the extracted spans table."""
    return (
        extracted.select("doc_id", "offset", _span_html().alias("h"))
        .groupBy("doc_id")
        .agg(
            F.concat(
                F.lit("<article>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("offset", "h"))),
                        lambda s: s["h"],
                    ),
                ),
                F.lit("</article>"),
            ).alias("html")
        )
    )


def _write_files(df: DataFrame, write_batch) -> int:
    """Run ``write_batch(batch) -> files written`` over every Arrow batch
    of ``df`` on the executors; returns the files written.

    One ``mapInArrow`` pass drained by a ``noop`` write, so the tasks run
    in the session's one Python worker pool (``foreachPartition`` pickles
    Rows one by one and starts a second daemon).  The count comes from an
    Observation on that pass (cluster-correct, no second job)."""

    def write(batches):
        for batch in batches:
            yield pa.RecordBatch.from_pydict({"written": [write_batch(batch)]})

    obs = Observation()
    df.mapInArrow(write, "written long").observe(
        obs, F.sum("written").alias("written")
    ).write.format("noop").mode("overwrite").save()
    return obs.get["written"] or 0


def _write_markdown(out_dir: str, batch: pa.RecordBatch) -> int:
    for row in batch.to_pylist():
        doc_dir = os.path.join(out_dir, row["doc_id"])
        os.makedirs(doc_dir, exist_ok=True)
        with open(os.path.join(doc_dir, f"{row['doc_id']}.md"), "w") as fh:
            fh.write(row["markdown"])
            fh.write("\n")
        if row["media_refs"]:
            with open(os.path.join(doc_dir, "media.txt"), "w") as fh:
                fh.write("\n".join(row["media_refs"]) + "\n")
    return batch.num_rows


def export_markdown_files(extracted: DataFrame, out_dir: str) -> int:
    """Write ``{out_dir}/{doc_id}/{doc_id}.md`` (+ ``media.txt`` manifest
    when the doc has media) for every document; returns docs written.

    **Requires ``out_dir`` on a shared filesystem** (NFS/FUSE-mounted
    object store): each executor writes its own partitions' docs with
    plain file IO.  On executor-local disks the files would scatter.
    The count comes from the writing pass (:func:`_write_files`), never
    from a driver-local directory listing."""
    os.makedirs(out_dir, exist_ok=True)
    return _write_files(
        render_markdown_col(extracted),
        functools.partial(_write_markdown, out_dir),
    )


def ordered_prepend(artifacts: DataFrame, first: str) -> DataFrame:
    """U3: the reference's ``downloads.insert(0, zip_path)``
    (``ui/gradio_process.py:426``) — an *ordered* union of (pos,
    artifact) rows: the new row takes position 0 and every existing
    position shifts by one.  Order is data (a rank column), not row
    order — the only shape that survives distribution."""
    head = artifacts.sparkSession.createDataFrame(
        [(0, first)], "pos int, artifact string"
    )
    shifted = artifacts.select(
        (F.col("pos") + 1).cast("int").alias("pos"), "artifact"
    )
    return head.unionByName(shifted)


def export_image_payloads(media: DataFrame, out_dir: str) -> int:
    """K2 image sink (reference ``utils/file_utils.py:562-626``, which
    writes PIL images into per-doc dirs): dump binary payload columns to
    ``{out_dir}/{doc_id}/{media_ref}`` — each executor writes its own
    partitions, no driver collect.  Same shared-filesystem requirement
    as :func:`export_markdown_files`.

    ``media`` needs (doc_id, media_ref, payload) — the shape
    ``multimodal.attach_bmp_payloads`` (or any real media table) carries.
    Returns payloads written (an Observation count, cluster-correct)."""
    os.makedirs(out_dir, exist_ok=True)
    return _write_files(
        media.select("doc_id", "media_ref", "payload"),
        functools.partial(_write_payloads, out_dir),
    )


def _write_payloads(out_dir: str, batch: pa.RecordBatch) -> int:
    for row in batch.to_pylist():
        doc_dir = os.path.join(out_dir, row["doc_id"])
        os.makedirs(doc_dir, exist_ok=True)
        # media_ref is a bare filename by contract; strip any path
        # components defensively so a hostile ref can't escape out_dir
        name = os.path.basename(row["media_ref"])
        with open(os.path.join(doc_dir, name), "wb") as fh:
            fh.write(row["payload"])
    return batch.num_rows
