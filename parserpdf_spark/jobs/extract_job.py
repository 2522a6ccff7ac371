"""spark-submit entry point for the extraction pipeline.

Cluster use (the packaging the north rule names)::

    zip -r engine.zip parserpdf_spark
    spark-submit --py-files engine.zip parserpdf_spark/jobs/extract_job.py \
        --input  <docs table dir | sf_dir with documents.parquet> \
        --output <output dir> --chunks 64

Local smoke (this sandbox)::

    python parserpdf_spark/jobs/extract_job.py \
        --input /root/testdata/sf0.001 --output /tmp/out --cores 8

Re-running after a crash resumes from the last committed chunk
(plans/checkpoint.py).  The reference's equivalent entry is
``convert_batch`` (``ui/gradio_process.py:181``), which has no resume.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local-dev convenience: make the repo root importable when the job is run
# as a script; under spark-submit --py-files the zip is already on the path
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
# python workers are forked with the *env* PYTHONPATH, not driver sys.path
if _REPO_ROOT not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def main(argv=None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="docs parquet dir (doc_id, spans), an sf dir "
                         "containing documents.parquet to synthesize from, "
                         "or a directory of raw files (.html/.htm/.docx/…) "
                         "to ingest through the files_to_docs bridge")
    ap.add_argument("--output", required=True)
    ap.add_argument("--glob", default="*",
                    help="path glob for raw-file input dirs (default *)")
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--cores", default=None,
                    help="local[N] cores; omit under spark-submit")
    ap.add_argument("--ocr", action="store_true",
                    help="run the deterministic OCR tier over needs_ocr "
                         "PDFs in raw-file input dirs (the reference's "
                         "force_ocr knob)")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import Observation, SparkSession, functions as F

    owns_session = spark is None
    if spark is not None:
        pass  # caller-provided session (tests/embedding); caller stops it
    elif args.cores is not None:
        from parserpdf_spark.session import get_spark

        spark = get_spark(cores=args.cores, app_name="parserpdf_extract_job")
    else:
        spark = SparkSession.builder.appName("parserpdf_extract_job").getOrCreate()

    from parserpdf_spark.plans.checkpoint import (
        committed_chunks,
        read_metrics,
        run_checkpointed_extraction,
    )

    bridged = None
    if os.path.exists(os.path.join(args.input, "documents.parquet")):
        from parserpdf_spark.sources.synth import synth_docs_df

        docs = synth_docs_df(spark, args.input)
    elif any(
        name.endswith(".parquet") or name == "_SUCCESS"
        for name in os.listdir(args.input)
    ):
        docs = spark.read.parquet(args.input)
    elif any(
        name.endswith((".warc", ".warc.gz")) for name in os.listdir(args.input)
    ):
        # crawl corpus: WARC records → bridge → canonical docs table
        from parserpdf_spark.sources.scans import scan_multi
        from parserpdf_spark.sources.warc import warc_to_docs

        files = scan_multi(
            spark, args.input, ["*.warc", "*.warc.gz"], with_content=True
        )
        bridged = warc_to_docs(files)
    else:
        # raw files: scan → bridge → canonical docs table
        from parserpdf_spark.sources.files import files_to_docs
        from parserpdf_spark.sources.scans import scan_files

        files = scan_files(spark, args.input, args.glob, with_content=True)
        bridged = files_to_docs(files, ocr=args.ocr)
    if bridged is not None:
        from parserpdf_spark.schema import INGEST_STATUSES
        from parserpdf_spark.sources.files import ingested_docs

        # counted by the chunk writes' own pass, above the ok filter
        ingest_obs = Observation()
        bridged = bridged.observe(
            ingest_obs,
            F.count(F.lit(1)).alias("_files"),
            *[F.count_if(F.col("ingest_status") == s).alias(s) for s in INGEST_STATUSES],
        )
        docs = ingested_docs(bridged)

    already = committed_chunks(args.output)
    if already:
        print(f"resuming: {sorted(already)} already committed", file=sys.stderr)

    committed = run_checkpointed_extraction(
        spark, docs, args.output, n_chunks=args.chunks, run_id=args.run_id
    )
    # every committed chunk's manifest, this run's and earlier runs';
    # manifests written before they carried docs_by_status make the
    # report count the committed metrics rows instead
    records = committed_chunks(args.output).values()
    by_status: dict[str, int] = {}
    if all("docs_by_status" in rec for rec in records):
        for rec in records:
            for status, n in rec["docs_by_status"].items():
                by_status[status] = by_status.get(status, 0) + n
    else:
        by_status = {
            r["status"]: r["count"]
            for r in read_metrics(spark, args.output)
            .groupBy("status").count().collect()
        }
    report = {
        "committed_this_run": [r["chunk_id"] for r in committed],
        "total_chunks": args.chunks,
        "docs_by_status": by_status,
    }
    if bridged is not None:
        if not committed:
            # every chunk was committed earlier: one pass fills the counts
            bridged.write.format("noop").mode("overwrite").save()
        stats = ingest_obs.get
        counts = {s: stats[s] for s in INGEST_STATUSES if stats[s]}
        if sum(counts.values()) != stats["_files"]:
            raise RuntimeError(f"{stats['_files']} files, counted {counts}: a status "
                               "is missing from schema.INGEST_STATUSES")
        report["files_by_ingest_status"] = counts
    print(json.dumps(report))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
