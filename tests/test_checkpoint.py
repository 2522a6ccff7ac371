"""Checkpoint/resume tests — kill-mid-run simulation (SURVEY.md §7.2-7):
commit part of the run, crash, rerun; verify no dupes, no gaps, and that
already-committed chunks are not recomputed."""

import pytest
from pyspark.sql import functions as F

from parserpdf_spark.plans.checkpoint import (
    CHUNKS_DIR,
    MANIFEST_DIR,
    committed_chunks,
    read_extracted,
    read_metrics,
    run_checkpointed_extraction,
)
from parserpdf_spark.sources.synth import synth_docs_df

N_CHUNKS = 4


def test_crash_resume_no_dupes_no_gaps(
    spark, sf_small, tmp_path, crash_after_commits
):
    out = str(tmp_path / "run")
    docs = synth_docs_df(spark, sf_small)

    # run 1: crash after 2 committed chunks
    with crash_after_commits(2):
        run_checkpointed_extraction(spark, docs, out, n_chunks=N_CHUNKS)
    assert len(committed_chunks(out)) == 2

    # partial state is readable and consistent (snapshot isolation)
    partial_docs = read_metrics(spark, out).count()
    assert 0 < partial_docs < 500

    # run 2: resume — only the remaining chunks are computed
    committed = run_checkpointed_extraction(spark, docs, out, n_chunks=N_CHUNKS)
    assert len(committed) == N_CHUNKS - 2
    assert sorted(committed_chunks(out)) == list(range(N_CHUNKS))

    # full result: every doc exactly once
    metrics = read_metrics(spark, out)
    assert metrics.count() == 500
    assert metrics.select("doc_id").distinct().count() == 500
    assert metrics.filter(F.col("status") != "ok").count() == 0

    # extracted spans match a direct (non-checkpointed) run
    from parserpdf_spark.operators.extract import extract_docs

    direct, _ = extract_docs(docs)
    assert read_extracted(spark, out).count() == direct.count()

    # lineage: one manifest per chunk, doc counts sum to the total
    rows = list(committed_chunks(out).values())
    assert len(rows) == N_CHUNKS
    assert sum(r["n_docs"] for r in rows) == 500
    # run 1 and run 2 have different run_ids in lineage
    assert len({r["run_id"] for r in rows}) == 2


def test_resume_with_changed_n_chunks_raises(
    spark, sf_small, tmp_path, crash_after_commits
):
    """Resuming under a different partitioning (n_chunks) must be a hard
    error — silently mixing two hash spaces extracts some docs twice and
    others never."""
    out = str(tmp_path / "run3")
    docs = synth_docs_df(spark, sf_small).limit(40)
    with crash_after_commits(1):
        run_checkpointed_extraction(spark, docs, out, n_chunks=4)
    with pytest.raises(ValueError, match="partitioning"):
        run_checkpointed_extraction(spark, docs, out, n_chunks=8)
    # the original scheme still resumes cleanly
    run_checkpointed_extraction(spark, docs, out, n_chunks=4)
    assert sorted(committed_chunks(out)) == [0, 1, 2, 3]


def test_rerun_is_noop(spark, sf_small, tmp_path):
    out = str(tmp_path / "run2")
    docs = synth_docs_df(spark, sf_small).limit(40)
    first = run_checkpointed_extraction(spark, docs, out, n_chunks=2)
    assert len(first) == 2
    second = run_checkpointed_extraction(spark, docs, out, n_chunks=2)
    assert second == []


def test_rollback_corrupt_chunk_and_time_travel(spark, sf_small, tmp_path):
    """Iceberg-equivalent rollback semantics: a corrupt last chunk rolls
    back by deleting its manifest (the commit object); earlier snapshots
    stay readable throughout; resume re-extracts EXACTLY the rolled-back
    chunk; the final table equals the original — no dupes, no gaps."""
    import os

    out = str(tmp_path / "run3")
    docs = synth_docs_df(spark, sf_small)
    run_checkpointed_extraction(spark, docs, out, n_chunks=N_CHUNKS)
    baseline = {
        r["doc_id"]
        for r in read_metrics(spark, out).select("doc_id").collect()
    }
    lineage0 = {c: rec["n_docs"] for c, rec in committed_chunks(out).items()}

    # corrupt the last chunk's data files (torn write / bad node)
    last = N_CHUNKS - 1
    chunk_dir = os.path.join(out, CHUNKS_DIR, f"chunk={last}")
    for name in os.listdir(chunk_dir):
        if name.endswith(".parquet"):
            with open(os.path.join(chunk_dir, name), "wb") as fh:
                fh.write(b"corrupt")

    # rollback: delete the commit — the corrupt files become invisible
    os.unlink(os.path.join(out, MANIFEST_DIR, f"chunk-{last}.json"))
    assert sorted(committed_chunks(out)) == list(range(N_CHUNKS - 1))

    # earlier snapshots readable while the table is rolled back, and
    # they contain exactly the docs of the surviving chunks
    partial = {
        r["doc_id"]
        for r in read_metrics(spark, out).select("doc_id").collect()
    }
    assert len(partial) == sum(
        n for c, n in lineage0.items() if c != last)
    assert partial < baseline

    # resume re-does exactly the rolled-back chunk
    redone = run_checkpointed_extraction(spark, docs, out, n_chunks=N_CHUNKS)
    assert [r["chunk_id"] for r in redone] == [last]

    # time-traveled forward: identical doc set, no dupes, no gaps
    metrics = read_metrics(spark, out)
    assert {
        r["doc_id"] for r in metrics.select("doc_id").collect()
    } == baseline
    assert metrics.count() == metrics.select("doc_id").distinct().count()
