"""Skew-salting tests: salted assembly ≡ unsalted assembly, giant docs
take the two-level path, and giant-doc extraction stays correct
(FIXTURES.md §6 skew knob)."""

import pytest
from pyspark.sql import functions as F

from parserpdf_spark.operators.extract import extract_docs
from parserpdf_spark.operators.skew import (
    assemble_spans,
    assemble_spans_unsalted,
    explode_docs,
)
from parserpdf_spark.sources.synth import synth_docs_df

GIANT_IDS = ["7", "42"]
GIANT_SPANS = 3000


@pytest.fixture(scope="module")
def skewed_exploded(spark, sf_small):
    docs = synth_docs_df(
        spark, sf_small, giant_doc_ids=GIANT_IDS, giant_spans=GIANT_SPANS
    )
    return explode_docs(docs).persist()


def test_salted_equals_unsalted(spark, skewed_exploded):
    salted = assemble_spans(skewed_exploded, giant_threshold=500, num_salts=8)
    plain = assemble_spans_unsalted(skewed_exploded)
    a = {r["doc_id"]: [list(s) for s in r["spans"]] for r in salted.collect()}
    b = {r["doc_id"]: [list(s) for s in r["spans"]] for r in plain.collect()}
    assert a.keys() == b.keys()
    assert all(a[k] == b[k] for k in a)


def test_giant_docs_actually_salted(spark, skewed_exploded):
    # with threshold 500, exactly the giant docs take the 2-level path;
    # verify by checking the span counts survived intact
    salted = assemble_spans(skewed_exploded, giant_threshold=500, num_salts=8)
    sizes = {r["doc_id"]: r["n"] for r in
             salted.select("doc_id", F.size("spans").alias("n"))
             .filter(F.col("doc_id").isin(GIANT_IDS)).collect()}
    assert sizes == {g: GIANT_SPANS for g in GIANT_IDS}


def test_extraction_of_salted_giant_docs(spark, skewed_exploded):
    docs = assemble_spans(skewed_exploded, giant_threshold=500, num_salts=8)
    extracted, metrics = extract_docs(
        docs.filter(F.col("doc_id").isin(GIANT_IDS))
    )
    stat = {r["doc_id"]: r["status"] for r in metrics.collect()}
    assert stat == {g: "ok" for g in GIANT_IDS}
    # each giant html span yields one para, order preserved
    first = (
        extracted.filter(F.col("doc_id") == "7")
        .orderBy("offset")
        .limit(3)
        .collect()
    )
    assert [r["text"] for r in first] == [
        "giant 7 chunk 0 filler text",
        "giant 7 chunk 1 filler text",
        "giant 7 chunk 2 filler text",
    ]
    n = extracted.filter(F.col("doc_id") == "7").count()
    assert n == GIANT_SPANS


EXPLODED_DDL = (
    "doc_id string, kind string, text string, media_ref string, offset int"
)


def _doc_map(df):
    return {r["doc_id"]: [list(s) for s in r["spans"]] for r in df.collect()}


@pytest.fixture(scope="module")
def odd_ids_exploded(spark):
    """A 20-span giant doc, small docs whose ids need SQL escaping, and
    one null-id span — the shapes the collected id filter must keep."""
    rows = [("g", "html", f"<p>g {i}</p>", None, i) for i in range(20)]
    for doc in ("a", "it's", "back\\slash", "x'); --"):
        rows += [(doc, "html", f"<p>{doc} {i}</p>", None, i) for i in range(3)]
    rows.append((None, "html", "<p>orphan</p>", None, 0))
    return spark.createDataFrame(rows, EXPLODED_DDL)


@pytest.mark.parametrize(
    "moved",
    [{}, {"collect": 0}, {"in_list": 0}],
    ids=["rendered_in", "over_collect_budget", "join_past_in_list_budget"],
)
def test_salted_equals_unsalted_on_every_split_form(
    odd_ids_exploded, budgets, moved
):
    """Each form of the giant/normal split (a rendered IN over the
    collected ids, a broadcast join against the uncollected ids past the
    collect budget, a broadcast join against a LocalRelation past the IN
    budget) assembles the same docs as the unsalted path — including
    the null-id span, which a NOT IN predicate would drop."""
    plain = _doc_map(assemble_spans_unsalted(odd_ids_exploded))
    assert None in plain and "it's" in plain and "back\\slash" in plain
    with budgets(**moved):
        salted = _doc_map(
            assemble_spans(odd_ids_exploded, giant_threshold=8, num_salts=4)
        )
    assert salted == plain


def test_string_id_split_makes_no_per_id_isin_call(
    spark, odd_ids_exploded, monkeypatch
):
    """The collected string ids become one rendered predicate, not a
    ``Column.isin`` call (one py4j round trip per id)."""

    def refuse(self, *cols):
        raise AssertionError("Column.isin over a collected id list")

    # pyspark.sql.Column is the abstract parent; patch the class the
    # session's columns actually are
    monkeypatch.setattr(type(F.col("doc_id")), "isin", refuse)
    salted = assemble_spans(odd_ids_exploded, giant_threshold=8, num_salts=4)
    assert len(_doc_map(salted)["g"]) == 20
