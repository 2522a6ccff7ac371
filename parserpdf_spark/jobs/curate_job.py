"""spark-submit entry point for the corpus-curation pipeline.

The training-data composition the engine's operators exist for, as one
command: quality gate → exact dedup → (optional) train/eval
decontamination → deterministic stratified sampling → per-stratum
token-budget shard packing → shards written as
``{output}/lang=…/shard_id=…/`` parquet partitions.

Cluster use::

    zip -r engine.zip parserpdf_spark
    spark-submit --py-files engine.zip parserpdf_spark/jobs/curate_job.py \\
        --input <docs parquet dir | sf dir> --output <dir> \\
        --fraction en=0.5 --fraction de=0.25 --shard-tokens 1000000 \\
        [--eval <eval docs parquet dir>]

Local smoke (this sandbox)::

    python parserpdf_spark/jobs/curate_job.py \\
        --input /root/testdata/sf0.001 --output /tmp/shards --cores 8 \\
        --fraction en=0.5 --fraction de=0.5 --fraction es=0.5 \\
        --fraction fr=0.5 --fraction zh=0.5 --shard-tokens 10000

Every stage is deterministic (hash-threshold sampling, min-id dedup,
doc_id-ordered packing), so re-running over the same input reproduces
the same shards byte-for-byte — the property training-data pipelines
are audited on.

The printed JSON report comes from the shard write's own pass, with no
persist and no count job: ``funnel`` (1_raw → 2_quality → 3_dedup →
4_sample) is an Observation on the flagged curation plan;
``n_docs_written``, ``total_tokens`` and, with ``--eval``,
``funnel.5_decontaminated`` are an Observation on the write; and
``n_shards`` lists the ``lang=*/shard_id=*`` directories it created.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
if _REPO_ROOT not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def _read_docs(spark, path: str):
    if os.path.exists(os.path.join(path, "documents.parquet")):
        return spark.read.parquet(os.path.join(path, "documents.parquet"))
    return spark.read.parquet(path)


def _count_shards(spark, output: str) -> int:
    """The ``lang=*/shard_id=*`` directories under ``output``: a
    file-system listing (any Hadoop file system), not a Spark job."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(output).getFileSystem(spark._jsc.hadoopConfiguration())
    return len(fs.globStatus(Path(output, "lang=*/shard_id=*")) or [])


def main(argv=None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="docs parquet dir with (doc_id, text, lang) or an "
                         "sf dir containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--fraction", action="append", default=[],
                    metavar="LANG=F",
                    help="per-stratum keep fraction (repeatable)")
    ap.add_argument("--default-fraction", type=float, default=0.0)
    ap.add_argument("--shard-tokens", type=int, default=1_000_000)
    ap.add_argument("--eval", default=None,
                    help="optional eval-set parquet (doc_id, text): curated "
                         "docs sharing an 8-gram with it are dropped")
    ap.add_argument("--cores", default=None,
                    help="local[N] cores; omit under spark-submit")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    owns_session = spark is None
    if owns_session:
        if args.cores is not None:
            from parserpdf_spark.session import get_spark

            spark = get_spark(cores=args.cores, app_name="parserpdf_curate_job")
        else:
            spark = (
                SparkSession.builder.appName("parserpdf_curate_job").getOrCreate()
            )

    from pyspark.sql import Observation, functions as F

    from parserpdf_spark.operators.curation import flag_stages, funnel_counts
    from parserpdf_spark.operators.curation import pack_shards
    from parserpdf_spark.operators.dedup import ngram_contamination

    fractions = {}
    for spec in args.fraction:
        lang, _, frac = spec.partition("=")
        fractions[lang] = float(frac)

    docs = _read_docs(spark, args.input).select("doc_id", "text", "lang")
    flagged = flag_stages(docs, fractions, args.default_fraction)
    funnel = Observation()
    curated = flagged.observe(funnel, *funnel_counts()).filter("sampled")
    if args.eval is not None:
        eval_docs = _read_docs(spark, args.eval).select("doc_id", "text")
        checked = ngram_contamination(curated, eval_docs)
        clean_ids = checked.filter(~F.col("contaminated")).select("doc_id")
        curated = curated.join(clean_ids, "doc_id", "left_semi")

    # the write's own pass fills both Observations: no count, no re-read.
    # pack_shards' lang window carries ``text`` to the write, so the rows
    # shuffle once; a narrow window re-joined on doc_id shuffled them twice
    written = Observation()
    pack_shards(curated, shard_tokens=args.shard_tokens).select(
        "lang", "shard_id", "doc_id", "n_tokens", "text"
    ).observe(
        written,
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_tokens").alias("tokens"),
    ).write.mode("overwrite").partitionBy("lang", "shard_id").parquet(
        args.output
    )
    rows = written.get["rows"]
    # an empty write lets AQE swap the emptied stages, and the funnel's
    # Observation node with them, for an empty relation: only then does
    # the funnel cost an aggregate of its own
    report = {
        "funnel": funnel.get if rows
        else flagged.agg(*funnel_counts()).first().asDict()
    }
    if args.eval is not None:
        report["funnel"]["5_decontaminated"] = rows
    report["n_docs_written"] = rows
    report["n_shards"] = _count_shards(spark, args.output)
    report["total_tokens"] = written.get["tokens"] or 0
    print(json.dumps(report))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
