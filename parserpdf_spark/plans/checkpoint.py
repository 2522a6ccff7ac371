"""Chunked checkpoint / resume with per-chunk lineage.

The reference **cannot resume**: a crashed run loses everything except
already-written per-file outputs; retry exists only per-document
(``converters/pdf_to_md.py:227-250``).  The north rule therefore
requires resumable runs with per-partition lineage + metrics sidecars.

Design (Iceberg-snapshot semantics via a parquet + atomic-manifest shim;
the sandbox can't fetch the iceberg-spark-runtime jar — SURVEY.md
§7.2-5 names this exact fallback, and the commit/resume semantics are
identical so the design isn't forked):

- the input doc space is deterministically partitioned into N chunks by
  ``pmod(xxhash64(doc_id), N)`` — stable across runs and cluster sizes;
- each chunk is one Spark job: extract → write
  ``<out>/chunks/chunk=<i>/`` → fsync a manifest JSON into
  ``<out>/_manifest/`` via write-temp-then-atomic-rename.  The rename is
  the commit point (what an Iceberg snapshot commit gives us);
- a crash mid-chunk leaves a partial chunk dir but **no manifest**; the
  next run overwrites it.  Readers union only committed chunks, so a
  half-written chunk is never visible (snapshot isolation);
- resume = skip chunks whose manifest exists — the "anti-join inputs
  against committed lineage" of SURVEY.md §2.11, done at partition
  granularity so it costs a directory listing, not a data join;
- deleting ``_manifest/chunk-<i>.json`` un-commits chunk i (a snapshot
  rollback): readers stop seeing it at once, and the next run
  re-extracts exactly that chunk.

At 10^12 docs, N is sized so one chunk ≈ one comfortable Spark job
(e.g. N=4096); chunks are embarrassingly parallel across job
submissions as well as within one.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from parserpdf_spark.operators.extract import extract_combined, split_combined
from parserpdf_spark.schema import COMBINED_DDL, DOC_STATUSES, METRICS_KIND

MANIFEST_DIR = "_manifest"
CHUNKS_DIR = "chunks"


def _fingerprint(n_chunks: int, chunk_id: int) -> str:
    """The partitioning-scheme fingerprint recorded in each manifest;
    resume validates it so chunks from a different n_chunks never mix."""
    return f"xxhash64(doc_id)%{n_chunks}=={chunk_id}"


def chunk_of(doc_id_col, n_chunks: int):
    """Deterministic chunk assignment — xxhash64 is a stable Spark
    built-in, so the same doc lands in the same chunk on every run."""
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_chunks))


def committed_chunks(output_dir: str) -> dict[int, dict]:
    """chunk_id → lineage record, for every committed chunk."""
    mdir = os.path.join(output_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return {}
    out: dict[int, dict] = {}
    for name in os.listdir(mdir):
        if name.startswith("chunk-") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                rec = json.load(fh)
            out[int(rec["chunk_id"])] = rec
    return out


def _commit_manifest(output_dir: str, record: dict) -> None:
    """Atomic commit: temp file + rename (POSIX rename is atomic within
    a filesystem — the shim's stand-in for an Iceberg snapshot commit)."""
    mdir = os.path.join(output_dir, MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(record, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, os.path.join(mdir, f"chunk-{record['chunk_id']}.json"))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def run_checkpointed_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    n_chunks: int = 8,
    run_id: str | None = None,
) -> list[dict]:
    """Extract ``docs`` into ``output_dir`` chunk by chunk, resumably.

    Returns the lineage records committed by THIS run.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    done = committed_chunks(output_dir)
    # resuming under a different partitioning scheme (n_chunks changed)
    # would silently mix two incompatible hash spaces: some docs
    # extracted twice, others never.  A manifest's fingerprint encodes
    # the scheme; any mismatch is a hard error, never a skip.
    for chunk_id, rec in done.items():
        expect = _fingerprint(n_chunks, chunk_id)
        if rec.get("input_fingerprint") != expect:
            raise ValueError(
                f"committed chunk {chunk_id} was written under partitioning "
                f"{rec.get('input_fingerprint')!r}, but this run uses "
                f"{expect!r} — resume with the original n_chunks or use a "
                "fresh output_dir"
            )
    committed_now: list[dict] = []
    pending = [c for c in range(n_chunks) if c not in done]

    # each chunk job filters the input by hash, which a scan can't prune —
    # persist so N > 1 pending chunks don't rescan (or re-synthesize, or
    # re-route) it N times; for one chunk a cache is written once and read
    # once.  At 100 TB you'd instead run ONE pass writing
    # partitionBy('chunk') and commit manifests per written chunk dir;
    # per-chunk jobs give crash-commit granularity of one chunk, which
    # the tests exercise.
    from pyspark import StorageLevel

    cache = len(pending) > 1
    if cache:
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for chunk in pending:
            part = docs.filter(chunk_of(F.col("doc_id"), n_chunks) == chunk)
            chunk_path = os.path.join(output_dir, CHUNKS_DIR, f"chunk={chunk}")
            # the write's own pass counts the lineage: an Observation, no second job
            obs = Observation()
            extract_combined(part).observe(
                obs,
                F.count_if(F.col("kind") == METRICS_KIND).alias("n_docs"),
                F.count_if(F.col("kind") != METRICS_KIND).alias("n_spans"),
                *[F.count_if(F.col("status") == s).alias(s) for s in DOC_STATUSES],
            ).write.mode("overwrite").parquet(chunk_path)
            stats = obs.get
            record = {
                "run_id": run_id,
                "chunk_id": chunk,
                "n_docs": stats["n_docs"],
                "n_spans": stats["n_spans"],
                "docs_by_status": {s: stats[s] for s in DOC_STATUSES if stats[s]},
                "input_fingerprint": _fingerprint(n_chunks, chunk),
            }
            _commit_manifest(output_dir, record)
            committed_now.append(record)
    finally:
        if cache:
            docs.unpersist()
    return committed_now


def _read_committed(spark: SparkSession, output_dir: str) -> DataFrame:
    """Combined rows of the committed chunks only, read with the known
    schema (no schema-inference job)."""
    paths = [
        os.path.join(output_dir, CHUNKS_DIR, f"chunk={c}")
        for c in sorted(committed_chunks(output_dir))
    ]
    if not paths:
        raise FileNotFoundError(f"no committed chunks under {output_dir}")
    return spark.read.schema(COMBINED_DDL).parquet(*paths)


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    """Union of committed chunks only → extracted spans table."""
    return split_combined(_read_committed(spark, output_dir))[0]


def read_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    return split_combined(_read_committed(spark, output_dir))[1]

