"""Skew-aware span assembly for exploded inputs.

The reference has no skew handling: one file = one pool task, and a
giant PDF stalls a worker (softened only by ``as_completed``,
``ui/gradio_process.py:131-176``).  At 10^12-document scale the
equivalent hazard is the reassembly shuffle: ``groupBy(doc_id)`` over
exploded spans sends a giant document's 10^4-10^5 spans to one reducer.
AQE skew handling covers joins, **not** skewed groupBy (SURVEY.md §4),
so the engine salts explicitly (north rule):

1. a cheap count-only pre-pass finds giant doc_ids (map-side partial
   aggregation makes this skew-immune);
2. giant docs aggregate in two levels — ``groupBy(doc_id, salt)`` where
   ``salt = offset % S`` splits the hot key S ways, then a second
   ``groupBy(doc_id)`` merges the S pre-reduced sub-arrays;
3. normal docs take the ordinary single groupBy;
4. ``array_sort`` on ``struct(offset, …)`` restores exact span order in
   both paths (struct comparison is field-order lexicographic), so
   salted ≡ unsalted output — tested property.

Salt boundaries here are *span* boundaries, which is safe because the
extraction kernel re-sorts a document's spans by offset after assembly;
no span is ever split (SURVEY.md §7.4-4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from parserpdf_spark.operators.bounded import collect_bounded, filter_ids

DEFAULT_GIANT_THRESHOLD = 4096
DEFAULT_NUM_SALTS = 16

def _span_struct():
    return F.struct("offset", "kind", "text", "media_ref")


def _to_spans(col):
    # structs are assembled (offset, kind, text, media_ref) for ordering;
    # project back to the canonical field order of the docs schema.
    return F.transform(
        col,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )


def assemble_spans(
    exploded: DataFrame,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
    num_salts: int = DEFAULT_NUM_SALTS,
) -> DataFrame:
    """exploded(doc_id, kind, text, media_ref, offset) → docs(doc_id, spans).

    Output span arrays are offset-sorted.  Giant docs (> giant_threshold
    spans) take the two-level salted aggregation; the rest a single
    groupBy.  The pre-pass count shuffles only (doc_id, partial-count)
    pairs — bytes, not spans.
    """
    counts = exploded.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    giant_ids = counts.filter(F.col("n_spans") > giant_threshold).select("doc_id")
    giant_rows = collect_bounded(giant_ids)
    if giant_rows == []:
        return assemble_spans_unsalted(exploded)
    # the common case: a small collected skew tail, so the main pass
    # splits with a literal filter and no join; past the collect budget
    # the split is a broadcast join against the uncollected ids
    if giant_rows is not None:
        giant_ids = [r["doc_id"] for r in giant_rows]
    normal = filter_ids(exploded, "doc_id", giant_ids, anti=True)
    giant = filter_ids(exploded, "doc_id", giant_ids)

    normal_docs = normal.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(_span_struct())).alias("ordered")
    )

    giant_docs = (
        giant.withColumn("salt", F.pmod(F.col("offset"), F.lit(num_salts)))
        .groupBy("doc_id", "salt")
        .agg(F.array_sort(F.collect_list(_span_struct())).alias("sub"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.flatten(F.collect_list(F.col("sub")))).alias("ordered"))
    )

    return (
        normal_docs.unionByName(giant_docs)
        .select("doc_id", _to_spans(F.col("ordered")).alias("spans"))
    )


def assemble_spans_unsalted(exploded: DataFrame) -> DataFrame:
    """Single-level assembly — the correctness baseline salted output
    must equal (and the skew hazard at scale)."""
    return exploded.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(_span_struct())).alias("ordered")
    ).select("doc_id", _to_spans(F.col("ordered")).alias("spans"))


def explode_docs(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → exploded span rows (the inverse, for tests
    and for inputs that arrive span-per-row)."""
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
