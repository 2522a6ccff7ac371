"""spark-submit entry point for the media feature pipeline.

Scans a directory of real files, bridges embedded media payloads (PDF
image XObjects — including scanned/``needs_ocr`` files' page images —
and docx ``word/media`` parts) plus standalone image and video files
into the canonical (doc_id, media_ref, payload) shape, then decodes
through the from-scratch codec fleet (BMP/JPEG/PNG/GIF/TIFF, AVI)
into per-item feature rows.  Other files (audio included) yield no row.

Cluster use::

    spark-submit --py-files engine.zip parserpdf_spark/jobs/media_job.py \
        --input <dir of files> --output <parquet dir>

Local smoke (this sandbox)::

    python parserpdf_spark/jobs/media_job.py \
        --input fixtures/files_corpus --output /tmp/media --cores 8

Output: one parquet table per modality, ``images/`` and ``video/``
(plus ``image_ocr/`` with ``--ocr``), of decode features (decode_ok per
row — keep-with-status, a corrupt payload never kills the job), and a
JSON report line on stdout: ``{"images": {"rows", "decoded"}, "video":
{"rows", "decoded"}[, "image_ocr": {"rows", "recognized"}]}``.  Each
table's counts come from an Observation on its own write, so the report
adds no Spark job: one job per written table.

Scale shape: binaryFile scan splits per file across executors; the
bridge and decode stages are narrow ``schema.map_rows`` passes (one
``mapInArrow`` each, zero shuffle).
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

_IMAGE_EXTS = (".bmp", ".jpg", ".jpeg", ".png", ".gif", ".tif", ".tiff")
_VIDEO_EXTS = (".avi",)


def _standalone(files, exts):
    from pyspark.sql import functions as F

    lower = F.lower(F.element_at(F.split(F.col("path"), "\\."), -1))
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    # doc_id follows sources.files._path_parts: the STEM, so media rows
    # join back to docs/ingest-status rows on the shared convention
    stem = F.regexp_replace(name, "\\.[^.]*$", "")
    return (
        files.filter(F.concat(F.lit("."), lower).isin(list(exts)))
        .select(
            stem.alias("doc_id"),
            name.alias("media_ref"),
            F.col("content").alias("payload"),
        )
    )


def image_rows(files):
    """Embedded payloads (PDF XObjects incl. scanned pages, docx media)
    via the files bridge UNION standalone image files as themselves."""
    from parserpdf_spark.sources.files import files_to_media

    return files_to_media(files).unionByName(_standalone(files, _IMAGE_EXTS))


def _write_counted(df, dest, **counts):
    """Write ``df`` to ``dest``; return its row count and ``counts``
    (name → boolean column), observed on the write's own pass."""
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *[F.count_if(cond).alias(name) for name, cond in counts.items()],
    ).write.mode("overwrite").parquet(dest)
    return obs.get


def main(argv=None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores; omit under spark-submit")
    ap.add_argument("--ocr", action="store_true",
                    help="additionally OCR every image payload "
                         "(text-in-images table image_ocr/)")
    args = ap.parse_args(argv)

    own_spark = spark is None
    if own_spark and args.cores is not None:
        from parserpdf_spark.session import get_spark

        spark = get_spark(cores=args.cores, app_name="media_job")
    elif own_spark:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("media_job").getOrCreate()
    files = images = None
    try:
        from pyspark.sql import functions as F

        from parserpdf_spark.operators.multimodal import (
            decode_features_real,
            frame_sample_real,
        )
        from parserpdf_spark.sources.scans import scan_files

        files = scan_files(spark, args.input, "*",
                           with_content=True).cache()
        images = image_rows(files)
        if args.ocr:
            # the OCR table reads the payloads the images write bridged
            images = images.cache()
        summary = {}
        for name, df in (
            ("images", decode_features_real(images)),
            ("video", frame_sample_real(_standalone(files, _VIDEO_EXTS))),
        ):
            summary[name] = _write_counted(
                df, os.path.join(args.output, name),
                decoded=F.col("decode_ok"))
        if args.ocr:
            from parserpdf_spark.operators.multimodal import ocr_from_media

            summary["image_ocr"] = _write_counted(
                ocr_from_media(images),
                os.path.join(args.output, "image_ocr"),
                recognized=F.col("ocr_status") == "ok")
        print(json.dumps(summary))
        return 0
    finally:
        # the caches pin raw file bytes and payloads in executor storage —
        # release them even when the session outlives the job (injected
        # spark)
        for df in (images, files):
            try:
                if df is not None:
                    df.unpersist()
            except Exception:  # noqa: BLE001 - best-effort cleanup
                pass
        if own_spark:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
