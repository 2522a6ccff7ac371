"""The Spark extraction stage — the engine's core operator.

Reference parity: this is the Spark re-expression of the reference's
per-document map chain ``convert_files → extract → converter(src_path)``
(``converters/pdf_to_md.py:121-250``) and its three pool strategies
(``ui/gradio_process.py:61-176``).  Design points:

- **Zero-shuffle by construction**: the input table keeps a document's
  spans co-located in one row (``array<struct>``), so extraction is a
  single ``mapInArrow`` pass — no explode, no reassembly shuffle.  This
  is the single biggest 10^12-scale lever (SURVEY.md §7.4-7): the plan
  is Scan → MapInArrow → (sink), with zero Exchange nodes.
- **Arrow-vectorized**: documents cross the JVM↔Python boundary as
  Arrow record batches (``maxRecordsPerBatch`` bounds giant-doc memory);
  no per-row Python UDF (input_hint).
- **Row-level error capture**: a malformed document yields a
  ``status="error"`` metrics row, never a task failure — mirroring the
  reference's return-not-raise contract (``pdf_to_md.py:240-243``).
  Task-level transient failures stay with ``spark.task.maxFailures``.
- **One pass, two outputs**: span rows and per-doc metrics rows ride the
  same iterator (metrics rows carry ``kind='_metrics'``), so extraction
  runs once; callers split with two cheap filters (write the combined
  frame first).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from parserpdf_spark.kernels.extract import extract_document_safe
from parserpdf_spark.schema import COMBINED_DDL, COMBINED_SCHEMA, METRICS_KIND

_SPAN_COLS = ["doc_id", "kind", "text", "media_ref", "offset"]
_METRIC_COLS = [
    "doc_id", "status", "error", "n_input_spans", "n_output_spans", "n_images",
]


def _decode_docs(batch: pa.RecordBatch):
    """(doc_id, spans-as-list-of-dicts) pairs, decoded via the flattened
    struct children — ~5× faster than Arrow→pandas struct conversion
    (each span becomes one dict from four contiguous child arrays
    instead of a per-struct generic conversion)."""
    doc_ids = batch.column("doc_id").to_pylist()
    col = batch.column("spans")
    if isinstance(col, pa.ChunkedArray):  # pragma: no cover - defensive
        col = col.combine_chunks()
    offs = col.offsets.to_pylist()
    vals = col.values
    kinds = vals.field("kind").to_pylist()
    texts = vals.field("text").to_pylist()
    refs = vals.field("media_ref").to_pylist()
    soffs = vals.field("offset").to_pylist()
    nulls = col.is_valid().to_pylist() if col.null_count else None
    for i, doc_id in enumerate(doc_ids):
        if nulls is not None and not nulls[i]:
            yield doc_id, None
            continue
        a, b = offs[i], offs[i + 1]
        yield doc_id, [
            {"kind": kinds[j], "text": texts[j], "media_ref": refs[j],
             "offset": soffs[j]}
            for j in range(a, b)
        ]


def _extract_batches_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """docs(doc_id, spans) Arrow batches → combined span+metrics batches.

    Executor-side analog of the reference's worker loop; per-executor
    one-time init (the reference's model-dict singleton,
    ``ui/gradio_process.py:39-54``) is module import itself — the
    kernels build no per-call state.
    """
    for batch in batches:
        cols: dict[str, list] = {name: [] for name in COMBINED_SCHEMA.names}
        n_span_rows = 0
        met: dict[str, list] = {c: [] for c in _METRIC_COLS}
        for doc_id, spans in _decode_docs(batch):
            out, metrics = extract_document_safe(spans)
            for s in out:
                cols["doc_id"].append(doc_id)
                cols["kind"].append(s["kind"])
                cols["text"].append(s["text"])
                cols["media_ref"].append(s["media_ref"])
                cols["offset"].append(s["offset"])
            n_span_rows += len(out)
            met["doc_id"].append(doc_id)
            for k in _METRIC_COLS[1:]:
                met[k].append(metrics[k])

        n_docs = len(met["doc_id"])
        # span rows carry null metrics; metrics rows carry null span fields
        cols["status"] = [None] * n_span_rows + met["status"]
        cols["error"] = [None] * n_span_rows + met["error"]
        cols["n_input_spans"] = [None] * n_span_rows + met["n_input_spans"]
        cols["n_output_spans"] = [None] * n_span_rows + met["n_output_spans"]
        cols["n_images"] = [None] * n_span_rows + met["n_images"]
        cols["doc_id"].extend(met["doc_id"])
        cols["kind"].extend([METRICS_KIND] * n_docs)
        cols["text"].extend([None] * n_docs)
        cols["media_ref"].extend([None] * n_docs)
        cols["offset"].extend([None] * n_docs)

        yield pa.RecordBatch.from_arrays(
            [pa.array(cols[f.name], f.type) for f in COMBINED_SCHEMA],
            schema=COMBINED_SCHEMA,
        )


def extract_combined(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → combined frame of span rows + metrics rows.

    Single narrow ``mapInArrow`` stage; write this once at scale, then
    derive the two tables from the stored result.
    """
    return docs.mapInArrow(_extract_batches_arrow, schema=COMBINED_DDL)


def split_combined(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """combined → (extracted spans, metrics) — two pushdown-able filters."""
    extracted = combined.filter(F.col("kind") != METRICS_KIND).select(*_SPAN_COLS)
    metrics = combined.filter(F.col("kind") == METRICS_KIND).select(*_METRIC_COLS)
    return extracted, metrics


def extract_docs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(extracted, metrics) from a docs table.

    Each output is a lazy plan over the same extraction, so
    materializing both runs it twice; to run it once, write
    ``extract_combined(...)`` and ``split_combined(spark.read...)``.
    """
    return split_combined(extract_combined(docs))

