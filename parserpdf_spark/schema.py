"""Schemas for the extraction engine.

The reference has *no* schema objects — shape is enforced dynamically via
``is_dict`` / ``is_list_of_dicts`` checks (reference
``utils/utils.py:2-16``) and ``getattr`` failures
(``utils/file_utils.py:549-553``).  Here every boundary is a fixed
``StructType``, enforced at the Arrow/pandas-UDF boundary.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input:  one row per document (BASELINE.json input_hint)
#   kind ∈ {"html", "pdf_block", "media"}
# ---------------------------------------------------------------------------
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# Exploded form of the input (one row per span).
EXPLODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Output: extracted ordered markdown spans
#   kind ∈ {"heading","para","table","list","code","image","caption"}
# (the relational equivalent of the reference's per-doc .md file written at
#  utils/file_utils.py:555-556 with interleaved image refs)
# ---------------------------------------------------------------------------
EXTRACTED_SCHEMA = EXPLODED_SCHEMA  # same flat shape, different kind domain

# DDL strings for mapInPandas
EXTRACTED_DDL = (
    "doc_id string, kind string, text string, media_ref string, offset int"
)

# Combined extraction output: span rows + one per-doc metrics row
# (metrics rows have kind = '_metrics'; see operators/extract.py).
COMBINED_DDL = (
    "doc_id string, kind string, text string, media_ref string, offset int, "
    "status string, error string, n_input_spans int, n_output_spans int, "
    "n_images int"
)

# ---------------------------------------------------------------------------
# Metrics sidecar: the Spark equivalent of the reference's per-doc result
# dict {"file","images","filepath","image_path"} (converters/pdf_to_md.py:189)
# and its JSON run log (ui/gradio_process.py:400-413).
# ---------------------------------------------------------------------------
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # one of DOC_STATUSES
        T.StructField("error", T.StringType(), True),
        T.StructField("n_input_spans", T.IntegerType(), True),
        T.StructField("n_output_spans", T.IntegerType(), True),
        T.StructField("n_images", T.IntegerType(), True),
    ]
)

# every status kernels.extract.extract_document_safe gives a document
DOC_STATUSES = ("ok", "error")

# every status the raw-file and WARC bridges give a file or record
INGEST_STATUSES = ("ok", "error", "skipped", "encrypted", "needs_ocr", "needs_prechunk")

# ---------------------------------------------------------------------------
# Lineage sidecar: per committed chunk — the Spark equivalent of the
# reference's zip manifest + dated logfile (utils/file_utils.py:242-288,
# utils/logger.py:55-85); used by resume (plans/checkpoint.py).
# ---------------------------------------------------------------------------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_spans", T.LongType(), True),
        T.StructField(
            "docs_by_status", T.MapType(T.StringType(), T.LongType()), True
        ),
        T.StructField("input_fingerprint", T.StringType(), True),
    ]
)

INPUT_KINDS = ("html", "pdf_block", "media", "markdown")
OUTPUT_KINDS = ("heading", "para", "table", "list", "code", "image", "caption")
