"""End-to-end Spark pipeline tests on deterministic synthetic docs.

Covers: explode→extract→reassemble round trip, golden equality between
the Spark pipeline and the pure-pandas kernels (the span-sequence
equality invariant), metrics/error contract, duplicate doc ids, and the
structural-count formulas the DuckDB oracle uses.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from parserpdf_spark.kernels.extract import extract_document_safe
from parserpdf_spark.operators.extract import extract_docs
from parserpdf_spark.operators.skew import assemble_spans_unsalted, explode_docs
from parserpdf_spark.sources.synth import synth_doc, synth_docs_df


@pytest.fixture(scope="module")
def small_results(spark, sf_small):
    docs = synth_docs_df(spark, sf_small)
    extracted, metrics = extract_docs(docs)
    extracted = extracted.persist()
    yield extracted, metrics
    extracted.unpersist()


def test_all_docs_ok_and_counted(small_results, spark, sf_small):
    extracted, metrics = small_results
    stat = {r["status"]: r["n"] for r in
            metrics.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert stat == {"ok": 500}
    n_docs = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    assert metrics.count() == n_docs == 500


def test_spark_output_equals_pandas_kernel(small_results, spark, sf_small):
    """Span-sequence equality: the Spark pipeline must reproduce the
    pure-pandas kernel output exactly on every doc (kind, text,
    media_ref, order) — the BASELINE.json invariant."""
    extracted, _ = small_results
    got = {
        r["doc_id"]: [[s["offset"], s["kind"], s["text"], s["media_ref"]]
                      for s in r["spans"]]
        for r in assemble_spans_unsalted(extracted).collect()
    }
    src = pd.read_parquet(f"{sf_small}/documents.parquet")
    assert len(got) == len(src)
    for nid, text in zip(src["doc_id"], src["text"]):
        out, m = extract_document_safe(synth_doc(int(nid), text))
        assert m["status"] == "ok"
        expected = [[s["offset"], s["kind"], s["text"], s["media_ref"]] for s in out]
        assert got[str(nid)] == expected, f"doc {nid} differs"


def test_structural_count_formulas(small_results, spark, sf_small):
    """The word-count formulas documented in sources/synth.py — these are
    exactly what oracle_sql() re-derives in DuckDB."""
    extracted, _ = small_results
    agg = extracted.groupBy("doc_id").agg(
        F.count(F.when(F.col("kind") == "heading", 1)).alias("h"),
        F.count(F.when(F.col("kind") == "para", 1)).alias("p"),
        F.count(F.when(F.col("kind") == "image", 1)).alias("i"),
        F.count(F.when(F.col("kind") == "caption", 1)).alias("c"),
    )
    src = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").alias("nid"),
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("nw"),
    )
    j = (
        agg.join(src, "doc_id")
        .withColumn("exp_p", F.ceil((F.col("nw") - 3) / 12.0).cast("long"))
        .withColumn("fam", F.col("nid") % 3)
        .withColumn(
            "exp_i",
            F.when(F.col("fam") == 2, 2)
            .when((F.col("fam") == 1) & (F.col("nid") % 4 == 1), 1)
            .otherwise(0),
        )
        .withColumn(
            "exp_c",
            F.when((F.col("fam") == 1) & (F.col("nid") % 4 == 1), 1).otherwise(0),
        )
    )
    bad = j.filter(
        (F.col("h") != 1)
        | (F.col("p") != F.col("exp_p"))
        | (F.col("i") != F.col("exp_i"))
        | (F.col("c") != F.col("exp_c"))
    )
    assert bad.count() == 0


def test_explode_reassemble_roundtrip(spark, sf_small):
    docs = synth_docs_df(spark, sf_small).limit(50)
    round_tripped = assemble_spans_unsalted(explode_docs(docs))
    a = {r["doc_id"]: [list(s) for s in r["spans"]] for r in docs.collect()}
    b = {r["doc_id"]: [list(s) for s in r["spans"]] for r in round_tripped.collect()}
    # input spans are offset-scrambled for pdf docs; round trip sorts by
    # offset, so compare as offset-sorted sets
    for k in a:
        assert sorted(a[k], key=lambda s: s[3]) == b[k]


def test_error_rows_never_fail_task(spark):
    rows = [
        ("good", [{"kind": "html", "text": "<p>fine</p>", "media_ref": None, "offset": 0}]),
        ("bad_json", [{"kind": "pdf_block", "text": "{broken", "media_ref": None, "offset": 0}]),
        ("bad_kind", [{"kind": "mystery", "text": "x", "media_ref": None, "offset": 0}]),
        ("empty", []),
    ]
    docs = spark.createDataFrame(
        rows,
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    extracted, metrics = extract_docs(docs)
    stat = {r["doc_id"]: (r["status"], r["n_output_spans"]) for r in metrics.collect()}
    assert stat["good"] == ("ok", 1)
    assert stat["bad_json"][0] == "error"
    assert stat["bad_kind"][0] == "error"
    assert stat["empty"] == ("ok", 0)
    assert extracted.filter(F.col("doc_id") == "bad_json").count() == 0


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


def test_synth_matches_pandas_path(spark, sf_small):
    """synth_docs_df (one Arrow row map) ≡ synth_doc (pure Python) on
    every document, replicas and giant docs included — the
    synthesizer is deterministic across both execution paths."""
    src = pd.read_parquet(f"{sf_small}/documents.parquet")
    expected = {}
    for nid, text in zip(src["doc_id"], src["text"]):
        spans = [[s["kind"], s["text"], s["media_ref"], s["offset"]]
                 for s in synth_doc(int(nid), text)]
        expected[str(nid)] = expected[f"{nid}_r1"] = spans
    giant = str(src["doc_id"].iloc[0]) + "_r1"
    expected[giant] = [["html", f"<p>giant {giant} chunk {j} filler text</p>", None, j]
                       for j in range(3)]
    got = {
        r["doc_id"]: [list(s) for s in r["spans"]]
        for r in synth_docs_df(spark, sf_small, giant_doc_ids=[giant],
                               giant_spans=3, replicate=2).collect()
    }
    assert got == expected


def test_hll_sketch_within_5pct(spark, sf_med):
    """Spark's approx_count_distinct at rsd=0.02 stays within 5% of the
    exact distinct count (the tighter bound behind the driver query's
    oracled 10% property)."""
    li = spark.read.parquet(f"{sf_med}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] <= 0.05
