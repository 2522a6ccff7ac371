"""Corpus-level error injection (FIXTURES.md §6): a fraction of docs
carries malformed spans; they must become status='error' metrics rows —
never task failures — while every healthy doc extracts normally."""

from pyspark.sql import functions as F

from parserpdf_spark.operators.extract import extract_docs
from parserpdf_spark.operators.skew import explode_docs
from parserpdf_spark.sources.synth import synth_docs_df


def _corrupt(spark, sf_small):
    """Every 20th doc gets its spans replaced by malformed ones."""
    docs = synth_docs_df(spark, sf_small)
    bad_spans = F.array(
        F.struct(
            F.lit("pdf_block").alias("kind"),
            F.lit("{truncated json").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    is_bad = F.col("doc_id").cast("long") % 20 == 0
    return docs.withColumn("spans", F.when(is_bad, bad_spans).otherwise(F.col("spans")))


def test_corpus_with_malformed_fraction(spark, sf_small):
    corrupted = _corrupt(spark, sf_small)
    extracted, metrics = extract_docs(corrupted)
    by_status = {
        r["status"]: r["n"]
        for r in metrics.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status == {"ok": 475, "error": 25}
    # error docs emit no spans; healthy docs unaffected
    assert extracted.filter(F.col("doc_id").cast("long") % 20 == 0).count() == 0
    errs = metrics.filter(F.col("status") == "error")
    assert all("ValueError" in r["error"] for r in errs.collect())
    ok_docs = extracted.select("doc_id").distinct().count()
    assert ok_docs == 475


def test_page_filter_keeps_malformed_spans(spark, sf_small):
    """filter_pages must not swallow a broken doc: a pdf_block with
    unparseable JSON has page=NULL — it stays in the doc so the kernel
    surfaces status='error' instead of silently truncating to 'ok'."""
    from parserpdf_spark.operators.pages import filter_pages

    filtered = filter_pages(_corrupt(spark, sf_small), "0")
    _, metrics = extract_docs(filtered)
    by_status = {
        r["status"]: r["n"]
        for r in metrics.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status == {"ok": 475, "error": 25}


def test_exploded_path_with_malformed_fraction(spark, sf_small):
    """The salted exploded path preserves the same error contract."""
    from parserpdf_spark.operators.skew import assemble_spans

    exploded = explode_docs(_corrupt(spark, sf_small))
    docs = assemble_spans(exploded, giant_threshold=8, num_salts=4)
    _, metrics = extract_docs(docs)
    by_status = {
        r["status"]: r["n"]
        for r in metrics.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status == {"ok": 475, "error": 25}
