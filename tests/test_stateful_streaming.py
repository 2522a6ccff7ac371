"""Stateful streaming dedup: duplicates dropped across micro-batches
(applyInPandasWithState), and the batch engine's duplicate-id behavior
(FIXTURES.md §6: process both, metrics expose the collision)."""

from pyspark.sql import functions as F

from parserpdf_spark.operators.extract import extract_docs
from parserpdf_spark.sources.synth import synth_docs_df
from parserpdf_spark.streaming.stateful import run_streaming_dedup


def test_streaming_dedup_across_batches(spark, sf_small, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    docs = synth_docs_df(spark, sf_small).filter(
        F.col("doc_id").cast("long") < 30
    ).persist()

    # batch files with overlapping doc_ids: 0-29, then 10-29 again, then 20-39... (replay)
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    docs.filter(F.col("doc_id").cast("long") >= 10).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_streaming_dedup(spark, in_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.count() == 30
    assert got.select("doc_id").distinct().count() == 30

    # a later drop replaying everything adds nothing (state persisted)
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    run_streaming_dedup(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 30
    docs.unpersist()


def test_batch_duplicate_doc_ids_both_processed(spark):
    """The batch engine mirrors the reference: duplicates are NOT
    silently dropped (utils/file_utils.py:413) — both process, and the
    metrics table exposes the collision for the pipeline to flag."""
    base = [
        ("dup", [{"kind": "html", "text": "<p>one</p>", "media_ref": None, "offset": 0}]),
        ("dup", [{"kind": "html", "text": "<p>two</p>", "media_ref": None, "offset": 0}]),
        ("solo", [{"kind": "html", "text": "<p>x</p>", "media_ref": None, "offset": 0}]),
    ]
    docs = spark.createDataFrame(
        base,
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    extracted, metrics = extract_docs(docs)
    assert metrics.count() == 3  # both dup rows processed
    collisions = (
        metrics.groupBy("doc_id").agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    assert [r["doc_id"] for r in collisions.collect()] == ["dup"]
    texts = sorted(
        r["text"] for r in extracted.filter(F.col("doc_id") == "dup").collect()
    )
    assert texts == ["one", "two"]
