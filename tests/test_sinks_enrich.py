"""Export sinks (K1/K2 file layout) and the stubbed enrichment stage
(M4) + provider validation (C5)."""

import os

import pytest
from pyspark.sql import functions as F

from parserpdf_spark.operators.enrich import (
    call_llm_real,
    enrich_spans,
    validate_provider,
)
from parserpdf_spark.operators.extract import extract_docs
from parserpdf_spark.operators.sinks import export_markdown_files
from parserpdf_spark.sources.synth import synth_docs_df


def test_export_markdown_files(spark, sf_small, tmp_path):
    out = str(tmp_path / "export")
    docs = synth_docs_df(spark, sf_small).filter(
        F.col("doc_id").isin("0", "1", "2")
    )
    extracted, _ = extract_docs(docs)
    n = export_markdown_files(extracted, out)
    assert n == 3
    # reference layout: {out}/{stem}/{stem}.md (file_utils.py:530-539)
    md = open(os.path.join(out, "0", "0.md")).read()
    assert md.startswith("# ")
    assert "|---|" in md  # doc 0 embeds a table (id%6==0)
    # doc 2 is mixed: interleaved image refs like the golden artifact
    md2 = open(os.path.join(out, "2", "2.md")).read()
    assert "![](_page_0_Picture_2.jpeg)" in md2
    refs = open(os.path.join(out, "2", "media.txt")).read().splitlines()
    assert refs == ["_page_0_Picture_2.jpeg", "_page_1_Figure_2.jpeg"]
    # pure-text doc gets no media manifest
    assert not os.path.exists(os.path.join(out, "0", "media.txt"))


def test_export_image_payloads(spark, sf_small, tmp_path):
    """K2: binary payloads land as real files in per-doc dirs with the
    exact bytes."""
    from parserpdf_spark.operators.multimodal import attach_bmp_payloads
    from parserpdf_spark.operators.sinks import export_image_payloads

    out = str(tmp_path / "media_out")
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").filter(
        F.col("doc_id") < 5
    )
    media = attach_bmp_payloads(docs)
    n = export_image_payloads(media, out)
    assert n == 5
    rows = media.collect()
    assert len(os.listdir(out)) == 5
    for r in rows:
        path = os.path.join(out, r["doc_id"], r["media_ref"])
        with open(path, "rb") as fh:
            assert fh.read() == bytes(r["payload"])


def test_render_json_is_valid_and_roundtrips(spark, sf_small):
    """The json view must be *parseable* JSON whose objects reproduce
    the span rows exactly (the escaping's real contract, beyond the
    cross-engine string equality the oracle checks)."""
    import json

    from parserpdf_spark.operators.sinks import render_json_col

    docs = synth_docs_df(spark, sf_small).filter(F.col("doc_id").isin("0", "1", "2"))
    extracted, _ = extract_docs(docs)
    rendered = {r["doc_id"]: r["json"] for r in render_json_col(extracted).collect()}
    spans = {}
    for r in extracted.collect():
        spans.setdefault(r["doc_id"], []).append(
            {"kind": r["kind"], "text": r["text"] or "",
             "media_ref": r["media_ref"], "offset": r["offset"]}
        )
    for doc_id, js in rendered.items():
        parsed = json.loads(js)
        expected = sorted(spans[doc_id], key=lambda s: s["offset"])
        assert parsed == expected, doc_id


def test_render_html_structure(spark, sf_small):
    from parserpdf_spark.operators.sinks import render_html_col

    docs = synth_docs_df(spark, sf_small).filter(F.col("doc_id").isin("0", "2"))
    extracted, _ = extract_docs(docs)
    html = {r["doc_id"]: r["html"] for r in render_html_col(extracted).collect()}
    assert html["0"].startswith("<article><h1>")
    assert "<table><tr><th>" in html["0"]  # id%6==0 embeds a table
    assert "<img src=" in html["2"]  # mixed doc carries images
    assert "&" not in html["0"].replace("&amp;", "").replace("&lt;", "").replace("&gt;", "")


def test_enrichment_stage(spark, sf_small):
    docs = synth_docs_df(spark, sf_small).limit(30)
    extracted, _ = extract_docs(docs)
    enriched = enrich_spans(extracted)
    rows = enriched.collect()
    assert rows and all(r["kind"] in ("heading", "caption") for r in rows)
    for r in rows:
        toks = r["text"].split()
        assert r["enrichment"] == f"[{toks[0]}..{toks[-1]}|{len(toks)}w]"


def test_llm_client_batches_and_preserves_order():
    from parserpdf_spark.operators.enrich import BatchedLLMClient

    seen_batches = []

    def transport(batch):
        seen_batches.append(len(batch))
        return [f"r:{p}" for p in batch]

    client = BatchedLLMClient(transport=transport, batch_size=4, max_concurrency=3)
    prompts = [f"p{i}" for i in range(11)]
    assert client.complete_many(prompts) == [f"r:p{i}" for i in range(11)]
    assert sorted(seen_batches) == [3, 4, 4]  # 11 → 4+4+3 micro-batches
    assert client.complete_many([]) == []


def test_llm_client_retries_transient_then_raises():
    from parserpdf_spark.operators.enrich import BatchedLLMClient, TransientLLMError

    calls = {"n": 0}

    def flaky(batch):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise TransientLLMError("429")
        return list(batch)

    sleeps = []
    client = BatchedLLMClient(
        transport=flaky, max_retries=3, backoff_base=0.01,
        sleep=sleeps.append,
    )
    assert client.complete_many(["a"]) == ["a"]
    assert calls["n"] == 3
    assert sleeps[:2] == [0.01, 0.02]  # exponential backoff

    def always_429(batch):
        raise TransientLLMError("429")

    dead = BatchedLLMClient(
        transport=always_429, max_retries=2, sleep=lambda s: None
    )
    with pytest.raises(TransientLLMError):
        dead.complete_many(["a"])


def test_llm_client_bounds_concurrency_and_rate():
    import threading
    import time

    from parserpdf_spark.operators.enrich import BatchedLLMClient

    state = {"inflight": 0, "peak": 0}
    lock = threading.Lock()

    def transport(batch):
        with lock:
            state["inflight"] += 1
            state["peak"] = max(state["peak"], state["inflight"])
        time.sleep(0.02)
        with lock:
            state["inflight"] -= 1
        return list(batch)

    client = BatchedLLMClient(transport=transport, batch_size=1, max_concurrency=2)
    client.complete_many([f"p{i}" for i in range(8)])
    assert state["peak"] <= 2

    # token bucket on a fake clock: burst 2 then one token per second
    from parserpdf_spark.operators.enrich import _TokenBucket

    t = {"now": 0.0}
    waits = []

    def fake_sleep(s):
        waits.append(round(s, 3))
        t["now"] += s

    bucket = _TokenBucket(rate=1.0, burst=2, clock=lambda: t["now"], sleep=fake_sleep)
    for _ in range(4):
        bucket.acquire()
    assert waits == [1.0, 1.0]  # first 2 free (burst), then 1s apart


def test_llm_client_rejects_response_count_mismatch():
    from parserpdf_spark.operators.enrich import BatchedLLMClient

    client = BatchedLLMClient(transport=lambda b: ["only-one"], batch_size=4)
    with pytest.raises(ValueError, match="responses"):
        client.complete_many(["a", "b"])


def test_real_llm_is_stubbed():
    with pytest.raises(NotImplementedError, match="stub"):
        call_llm_real("x", "openai")


def test_provider_validation():
    assert validate_provider(" OpenAI ") == ("openai", None)
    assert validate_provider("hf") == ("huggingface", None)
    canonical, suggestion = validate_provider("anthropc")
    assert canonical is None and suggestion == "anthropic"
    assert validate_provider("zzz") == (None, None)
