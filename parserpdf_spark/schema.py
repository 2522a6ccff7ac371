"""Schemas for the extraction engine.

The reference has *no* schema objects — shape is enforced dynamically via
``is_dict`` / ``is_list_of_dicts`` checks (reference
``utils/utils.py:2-16``) and ``getattr`` failures
(``utils/file_utils.py:549-553``).  Here every boundary is a fixed
``StructType``, enforced at the Arrow boundary.  :func:`map_rows` is
the one Python row map the per-file and per-payload stages share.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, types as T

# one span of a document, in every docs table's ``spans`` column
SPANS_DDL = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

# Combined extraction output: span rows + one per-doc metrics row
# (metrics rows have kind = METRICS_KIND; see operators/extract.py).
# Declared once as the Arrow schema the executors build batches with;
# the DDL Spark reads is derived from it (``StructType.fromDDL`` would
# need a session, which executors do not have).
COMBINED_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
    ("status", pa.string()),
    ("error", pa.string()),
    ("n_input_spans", pa.int32()),
    ("n_output_spans", pa.int32()),
    ("n_images", pa.int32()),
])
COMBINED_DDL = ", ".join(
    f"{f.name} {({pa.string(): 'string', pa.int32(): 'int'})[f.type]}"
    for f in COMBINED_SCHEMA
)
METRICS_KIND = "_metrics"

# every status kernels.extract.extract_document_safe gives a document
DOC_STATUSES = ("ok", "error")

# every status the raw-file and WARC bridges give a file or record
INGEST_STATUSES = ("ok", "error", "skipped", "encrypted", "needs_ocr", "needs_prechunk")

# ---------------------------------------------------------------------------
# The row map: one Arrow pass for every per-file / per-payload Python stage
# ---------------------------------------------------------------------------

# rows per emitted Arrow batch: a row-expanding function (one WARC file →
# thousands of records, one video → its frames) then holds a constant
# number of output rows per task, not one input's worth
ROW_MAP_BATCH = 256


def _map_rows_batches(
    batches: Iterator[pa.RecordBatch],
    fn: Callable[..., Iterable[dict[str, Any]]],
    schema: pa.Schema,
) -> Iterator[pa.RecordBatch]:
    """Executor side of :func:`map_rows`: ``fn(*row values)`` per input
    row, its output dicts flushed every ``ROW_MAP_BATCH`` rows."""
    rows: list[dict[str, Any]] = []
    for batch in batches:
        for values in zip(*(col.to_pylist() for col in batch.columns)):
            for row in fn(*values):
                rows.append(row)
                if len(rows) >= ROW_MAP_BATCH:
                    yield pa.RecordBatch.from_pylist(rows, schema=schema)
                    rows = []
    if rows:
        yield pa.RecordBatch.from_pylist(rows, schema=schema)


def map_rows(
    df: DataFrame,
    cols: list[str],
    fn: Callable[..., Iterable[dict[str, Any]]],
    ddl: str,
) -> DataFrame:
    """One narrow ``mapInArrow`` over ``df.select(*cols)``: each input row
    becomes ``fn(*values)``, an iterable of zero or more output dicts keyed
    by the ``ddl`` columns (a missing key is null).  ``fn`` keeps its own
    keep-with-status contract — nothing here catches.

    The Arrow schema is built here on the driver: ``StructType.fromDDL``
    needs a session, which executors do not have."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(T.StructType.fromDDL(ddl))
    return df.select(*cols).mapInArrow(
        lambda batches: _map_rows_batches(batches, fn, schema), schema=ddl
    )
