"""Structured Streaming ingestion — the scale analog of the reference's
incremental source accumulation.

The reference accumulates uploads statefully in the UI
(``accumulate_files``, ``utils/file_utils.py:392-424``: concat new paths
onto session state, re-filter, re-count).  The streaming equivalent is a
file-source stream over the docs table directory: each new parquet file
is a micro-batch, extraction runs incrementally, and exactly-once
delivery comes from the checkpoint dir instead of Gradio session state.

Also here: the event-time windowed aggregation shape (watermark + window)
the reference entirely lacks (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from parserpdf_spark.operators.extract import extract_combined
from parserpdf_spark.schema import DOCS_SCHEMA


def stream_docs(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of interleaved docs (one micro-batch per new
    file drop — the S5 'accumulate uploads' analog)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _drain(docs: DataFrame, output_dir: str, checkpoint_dir: str):
    """Extract what the stream holds now into parquet, then stop
    (``availableNow``).  Returns the finished StreamingQuery."""
    query = (
        extract_combined(docs)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Incrementally extract newly arrived doc files into parquet.

    ``availableNow`` drains everything currently present and stops —
    rerunning after more files land processes only the new ones (the
    checkpoint dir tracks consumed files, replacing the reference's
    session-state concat).  Returns the finished StreamingQuery.
    """
    return _drain(stream_docs(spark, input_dir), output_dir, checkpoint_dir)


FILES_STREAM_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_files(
    spark: SparkSession,
    input_dir: str,
    glob: str = "*",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source stream of raw files (binaryFile format; streaming
    needs the schema stated explicitly).  Each newly dropped file is
    exactly-once work for the bridge — the true streaming analog of the
    reference's upload-accumulate loop (``utils/file_utils.py:392-424``),
    end to end from *bytes*, not from a pre-built docs table."""
    return (
        spark.readStream.format("binaryFile")
        .schema(FILES_STREAM_SCHEMA)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_dir)
    )


def run_incremental_file_ingestion(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    glob: str = "*",
    ocr: bool = False,
):
    """Watch a directory of real files: scan → files_to_docs bridge →
    extraction, incrementally.  ``availableNow`` drains what's present
    and stops; rerunning after more files land processes only the new
    ones (checkpoint-tracked).  Non-ok files are simply absent from the
    extraction output — run the batch ``file_ingest_gate`` view for the
    keep-with-status report.  ``ocr=True`` runs the deterministic OCR
    tier over needs_ocr PDFs (the reference's force_ocr knob) — the
    bridge is a stateless ``mapInArrow`` row map, so it composes with the
    stream unchanged."""
    from parserpdf_spark.sources.files import files_to_docs, ingested_docs

    files = stream_files(spark, input_dir, glob=glob)
    docs = ingested_docs(files_to_docs(files, ocr=ocr))
    return _drain(docs, output_dir, checkpoint_dir)


def run_incremental_warc_ingestion(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Watch a directory where crawl WARC files land (the CommonCrawl
    delivery shape): each new .warc/.warc.gz is parsed, its HTML
    captures extracted, exactly-once per file via the checkpoint."""
    from parserpdf_spark.sources.files import ingested_docs
    from parserpdf_spark.sources.warc import warc_to_docs

    files = stream_files(spark, input_dir, glob="*.warc*")
    docs = ingested_docs(warc_to_docs(files))
    return _drain(docs, output_dir, checkpoint_dir)


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Event-time windowed aggregation with late-data handling: 10-minute
    watermark, 1-hour tumbling windows per event_type — the streaming
    operator family the reference has none of."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
        )
    )
