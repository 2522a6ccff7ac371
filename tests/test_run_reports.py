"""Run reports come from the passes that do the work: the extract job's
lineage, status report and the sinks' counts add no Spark jobs of their
own, and they equal what a re-read of the output would say."""

import io
import json
import os
import shutil
import threading
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from parserpdf_spark.jobs.extract_job import main
from parserpdf_spark.operators.sinks import export_markdown_files
from parserpdf_spark import schema
from parserpdf_spark.plans.checkpoint import (
    MANIFEST_DIR,
    committed_chunks,
    read_extracted,
    read_metrics,
    run_checkpointed_extraction,
)
from parserpdf_spark.sources.files import files_to_docs, ingested_docs
from parserpdf_spark.sources.scans import scan_files, scan_multi
from parserpdf_spark.sources.synth import DOCS_DDL
from parserpdf_spark.sources.warc import warc_to_docs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "fixtures", "files_corpus")
OCR_CORPUS = os.path.join(REPO, "fixtures", "ocr_corpus")
WARC_DIR = os.path.join(REPO, "fixtures", "warc")
INGEST_STATUSES = {
    "ok": 44, "error": 1, "needs_prechunk": 1, "skipped": 2,
    "encrypted": 1, "needs_ocr": 1,
}


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _run_job(spark, out: str, chunks: int, src: str = FIXTURES,
             flags: tuple = ()) -> dict:
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(
            ["--input", src, "--output", out, "--chunks", str(chunks), *flags],
            spark=spark,
        ) == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def test_extract_job_and_sink_spark_jobs(spark, tmp_path):
    """One ingest pass: one write per chunk, whose pass also counts the
    ingest statuses; the Markdown sink: its render shuffle and the write
    pass."""
    out = str(tmp_path / "job")
    before = _job_ids(spark)
    report = _run_job(spark, out, chunks=1)
    main_jobs = len(_job_ids(spark) - before)
    assert report == {
        "committed_this_run": [0],
        "total_chunks": 1,
        "docs_by_status": {"ok": 44},
        "files_by_ingest_status": INGEST_STATUSES,
    }
    assert main_jobs <= 4

    before = _job_ids(spark)
    n = export_markdown_files(read_extracted(spark, out), str(tmp_path / "md"))
    sink_jobs = len(_job_ids(spark) - before)
    assert n == 44
    assert sink_jobs <= 2


def test_report_counts_chunks_committed_by_an_earlier_run(
    spark, tmp_path, crash_after_commits
):
    """A crashed run's committed chunks still count in the resumed job's
    docs_by_status; committed_this_run holds only the resumed chunks."""
    out = str(tmp_path / "job")
    docs = ingested_docs(
        files_to_docs(scan_files(spark, FIXTURES, "*", with_content=True))
    )
    with crash_after_commits(2):
        run_checkpointed_extraction(spark, docs, out, n_chunks=4)
    first = set(committed_chunks(out))
    assert len(first) == 2

    report = _run_job(spark, out, chunks=4)
    assert report["docs_by_status"] == {"ok": 44}
    assert sorted(report["committed_this_run"]) == sorted(set(range(4)) - first)


def test_report_resumes_over_manifests_without_status_counts(spark, tmp_path):
    """Manifests committed before they carried docs_by_status: the
    rerun's report counts the committed metrics rows, not KeyError."""
    out = str(tmp_path / "job")
    _run_job(spark, out, chunks=4)
    mdir = os.path.join(out, MANIFEST_DIR)
    manifests = sorted(n for n in os.listdir(mdir) if n.startswith("chunk-"))
    assert len(manifests) == 4
    for name in manifests[:2]:
        path = os.path.join(mdir, name)
        with open(path) as fh:
            rec = json.load(fh)
        del rec["docs_by_status"]
        with open(path, "w") as fh:
            json.dump(rec, fh)

    report = _run_job(spark, out, chunks=4)
    assert report["committed_this_run"] == []
    assert report["docs_by_status"] == {"ok": 44}


def test_manifest_status_counts_equal_metrics(spark, tmp_path):
    """Status counts summed from the manifests equal a groupBy over the
    written metrics rows, an error doc included; 10 docs in 12 chunks
    leave some chunks empty, whose write still fills the Observation."""
    out = str(tmp_path / "run")
    good = [
        (f"d{i}", [("html", f"<h1>T{i}</h1><p>body {i}</p>", None, 0)])
        for i in range(9)
    ]
    bad = [("bad", [("pdf_block", "{truncated json", None, 0)])]
    docs = spark.createDataFrame(good + bad, DOCS_DDL)
    run_checkpointed_extraction(spark, docs, out, n_chunks=12)
    assert len(committed_chunks(out)) == 12

    from_manifests: dict[str, int] = {}
    for rec in committed_chunks(out).values():
        for status, n in rec["docs_by_status"].items():
            from_manifests[status] = from_manifests.get(status, 0) + n
    from_metrics = {
        r["status"]: r["n"]
        for r in read_metrics(spark, out)
        .groupBy("status")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert from_manifests == from_metrics == {"ok": 9, "error": 1}


def test_rerun_over_a_grown_directory_sees_the_new_files(spark, tmp_path):
    """A second run in the same session, over the same directory after
    files landed, reports and extracts the new files, and no cache entry
    outlives either run."""
    src = tmp_path / "corpus"
    src.mkdir()
    for name in ("doc_0.html", "doc_3.html", "doc_1.docx", "doc_15.html",
                 "broken_99.docx", "LICENSE"):
        shutil.copy(os.path.join(FIXTURES, name), src / name)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    first = _run_job(spark, str(tmp_path / "one"), chunks=1, src=str(src))
    assert first["files_by_ingest_status"] == {"ok": 4, "error": 1, "skipped": 1}
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()

    (src / "late.html").write_text("<h1>Late</h1><p>arrived after the first run</p>")
    (src / "late.xyz").write_bytes(b"no route for this suffix")
    out = str(tmp_path / "two")
    second = _run_job(spark, out, chunks=1, src=str(src))
    assert second["files_by_ingest_status"] == {"ok": 5, "error": 1, "skipped": 2}
    assert second["docs_by_status"] == {"ok": 5}
    extracted = {r["doc_id"] for r in read_extracted(spark, out).collect()}
    assert extracted == {"doc_0", "doc_3", "doc_1", "doc_15", "late"}
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


@pytest.mark.parametrize("chunks", [1, 3])
def test_raw_file_job_runs_one_spark_job_per_chunk(spark, tmp_path, chunks):
    """The ingest counts ride on the chunk writes: a raw-file run is one
    Spark job per chunk, with no status job of its own, and it leaves no
    cache entry behind (three chunks share a cache the run releases)."""
    jsc = spark.sparkContext._jsc
    cached = set(jsc.getPersistentRDDs().keySet())
    before = _job_ids(spark)
    report = _run_job(spark, str(tmp_path / "job"), chunks=chunks)
    assert len(_job_ids(spark) - before) == chunks
    assert report["files_by_ingest_status"] == INGEST_STATUSES
    assert report["docs_by_status"] == {"ok": 44}
    assert set(jsc.getPersistentRDDs().keySet()) - cached == set()


def test_full_resume_reports_the_first_runs_statuses(spark, tmp_path):
    """A rerun over an output whose chunks are all committed writes no
    chunk, yet still reports the first run's ingest counts: one pass
    over the bridge fills the Observation.  The rerun runs under a
    bounded wait, so a never-filled Observation fails instead of hanging."""
    out = str(tmp_path / "job")
    first = _run_job(spark, out, chunks=3)
    before = _job_ids(spark)
    result = {}
    worker = threading.Thread(
        target=lambda: result.update(_run_job(spark, out, chunks=3)), daemon=True
    )
    worker.start()
    worker.join(timeout=180)
    assert not worker.is_alive(), "the rerun's ingest Observation never filled"
    assert result["committed_this_run"] == []
    assert result["files_by_ingest_status"] == first["files_by_ingest_status"]
    assert result["docs_by_status"] == first["docs_by_status"]
    assert len(_job_ids(spark) - before) == 1


@pytest.mark.parametrize(
    "src,flags,bridge",
    [
        (FIXTURES, (), lambda spark: files_to_docs(
            scan_files(spark, FIXTURES, "*", with_content=True))),
        (OCR_CORPUS, ("--ocr",), lambda spark: files_to_docs(
            scan_files(spark, OCR_CORPUS, "*", with_content=True), ocr=True)),
        (WARC_DIR, (), lambda spark: warc_to_docs(
            scan_multi(spark, WARC_DIR, ["*.warc", "*.warc.gz"], with_content=True))),
    ],
    ids=["files", "ocr", "warc"],
)
def test_observed_ingest_statuses_equal_a_groupby(spark, tmp_path, src, flags, bridge):
    """The job's observed files_by_ingest_status equals a groupBy over
    the same bridge, for raw files, the OCR tier and WARC records."""
    report = _run_job(spark, str(tmp_path / "job"), chunks=2, src=src, flags=flags)
    grouped = {
        r["ingest_status"]: r["count"]
        for r in bridge(spark).groupBy("ingest_status").count().collect()
    }
    assert report["files_by_ingest_status"] == grouped


@pytest.mark.parametrize("golden", ["file_ingest_status", "ocr_ingest_status"])
def test_golden_ingest_statuses_are_known(golden):
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(REPO, "goldens", f"{golden}.parquet"))
    statuses = set(table.column("ingest_status").to_pylist())
    assert statuses and statuses <= set(schema.INGEST_STATUSES)


@pytest.mark.parametrize(
    "golden", ["file_ingest_status", "ocr_ingest_status", "warc_ingest_status"]
)
def test_golden_ingest_src_paths_are_repo_relative(golden):
    """The ingest-status goldens hold repo-relative paths, so the bytes
    do not depend on the checkout that wrote them."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(REPO, "goldens", f"{golden}.parquet"))
    paths = table.column("src_path").to_pylist()
    assert paths and all(p.startswith("fixtures/") for p in paths)


def test_fixtures_and_goldens_regenerate_byte_identical(tmp_path):
    """The three generator tools, run from a copy of ``tools/`` and
    ``parserpdf_spark/`` at another path, write exactly the committed
    fixtures and goldens, byte for byte: a kernel or synth change that
    moves any output fails here, not in a manual check."""
    import subprocess
    import sys

    ignore = shutil.ignore_patterns("__pycache__")
    for name in ("tools", "parserpdf_spark"):
        shutil.copytree(os.path.join(REPO, name), tmp_path / name, ignore=ignore)
    for tool in ("make_file_fixtures", "make_goldens", "make_media_goldens"):
        subprocess.run([sys.executable, f"tools/{tool}.py"], cwd=tmp_path,
                       check=True, capture_output=True)

    def files(root):
        return sorted(
            os.path.relpath(os.path.join(d, f), root)
            for top in ("fixtures", "goldens")
            for d, _, names in os.walk(os.path.join(root, top)) for f in names
        )

    written = files(str(tmp_path))
    assert written == files(REPO)
    changed = []
    for rel in written:
        with open(tmp_path / rel, "rb") as new, open(os.path.join(REPO, rel), "rb") as old:
            if new.read() != old.read():
                changed.append(rel)
    assert changed == []


def test_an_unlisted_ingest_status_fails_the_job(spark, tmp_path, monkeypatch):
    """The job counts every file as well as each known status: a status
    missing from schema.INGEST_STATUSES raises instead of vanishing."""
    monkeypatch.setattr(
        schema, "INGEST_STATUSES",
        tuple(s for s in schema.INGEST_STATUSES if s != "skipped"),
    )
    with pytest.raises(RuntimeError, match="INGEST_STATUSES"):
        _run_job(spark, str(tmp_path / "job"), chunks=1)


def _media_inputs(tmp_path) -> str:
    """Embedded images (a PDF, a scanned PDF, a docx), a video and a
    broken standalone image."""
    import numpy as np

    from parserpdf_spark.operators.multimodal import encode_avi_frames

    src = tmp_path / "in"
    src.mkdir()
    for name in ("doc_31.pdf", "scanned_3.pdf", "doc_1.docx"):
        shutil.copy(os.path.join(FIXTURES, name), src)
    rng = np.random.default_rng(3)
    (src / "vid_1.avi").write_bytes(encode_avi_frames(
        [rng.integers(0, 256, (4, 6, 3), dtype=np.uint8) for _ in range(3)],
        6, 4))
    (src / "broken_1.jpg").write_bytes(b"\xff\xd8 truncated")
    return str(src)


@pytest.mark.parametrize("flags, tables", [
    ((), ("images", "video")),
    (("--ocr",), ("images", "video", "image_ocr")),
], ids=["plain", "ocr"])
def test_media_job_runs_one_spark_job_per_table(spark, tmp_path, flags, tables):
    """media_job counts each table on its own write: one Spark job per
    written table, and the counts equal a re-read of the table."""
    from parserpdf_spark.jobs.media_job import main as media_main

    src = _media_inputs(tmp_path)
    out = str(tmp_path / "media")

    before = _job_ids(spark)
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert media_main(["--input", src, "--output", out, *flags],
                          spark=spark) == 0
    assert len(_job_ids(spark) - before) == len(tables)

    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert tuple(report) == tables
    for table in tables:
        df = spark.read.parquet(os.path.join(out, table))
        assert report[table]["rows"] == df.count()
        key, cond = (("recognized", F.col("ocr_status") == "ok")
                     if table == "image_ocr" else ("decoded", F.col("decode_ok")))
        assert report[table][key] == df.filter(cond).count()


def test_media_job_without_cores_runs_on_the_active_session(
    spark, tmp_path, monkeypatch
):
    """Without --cores (a spark-submit run) media_job takes the session
    spark-submit configured, never a local[N] one of its own, and stops
    it when done."""
    from pyspark.sql import SparkSession

    from parserpdf_spark import session
    from parserpdf_spark.jobs.media_job import main as media_main

    def local_session(*args, **kwargs):
        raise AssertionError("media_job built a local session")

    stopped = []
    monkeypatch.setattr(session, "get_spark", local_session)
    monkeypatch.setattr(SparkSession, "stop", lambda self: stopped.append(self))
    out = str(tmp_path / "media")
    with redirect_stdout(io.StringIO()):
        assert media_main(["--input", _media_inputs(tmp_path), "--output", out]) == 0
    assert stopped == [spark]
    assert spark.read.parquet(os.path.join(out, "images")).count() > 0


def test_media_job_ocr_bridges_the_images_once(spark, tmp_path):
    """Under --ocr the image_ocr write reads the image rows the images
    write bridged: of the MapInArrow nodes in its executed plan, only
    the OCR one runs, and the bridge's rows come from the cache."""
    from parserpdf_spark.jobs.media_job import main as media_main

    with redirect_stdout(io.StringIO()):
        assert media_main(["--input", _media_inputs(tmp_path), "--output",
                           str(tmp_path / "media"), "--ocr"], spark=spark) == 0
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = execs.apply(execs.size() - 1).executionId()  # the image_ocr write
    values = store.executionMetrics(last)
    rows = {}
    nodes = store.planGraph(last).allNodes()
    for i in range(nodes.size()):
        node = nodes.apply(i)
        for j in range(node.metrics().size()):
            metric = node.metrics().apply(j)
            value = values.get(metric.accumulatorId())
            if metric.name() == "number of output rows":
                rows.setdefault(node.name(), []).append(
                    int(value.get()) if value.isDefined() else 0)
    assert len(rows["MapInArrow"]) == 2  # the OCR and the cached bridge
    assert sum(n > 0 for n in rows["MapInArrow"]) == 1
    assert max(rows["InMemoryTableScan"]) > 0


FRACTIONS = ("--fraction", "en=0.5", "--fraction", "de=0.25",
             "--fraction", "es=0.75", "--fraction", "fr=0.125")


@pytest.mark.parametrize("mode, max_jobs", [
    ("plain", 4), ("eval", 12), ("empty", 7),
], ids=["plain", "eval", "empty"])
def test_curate_job_counts_on_its_write(spark, tmp_path, planted_sf,
                                        mode, max_jobs):
    """curate_job fills its report from the shard write: the funnel and
    the written rows and tokens are Observations on that pass, n_shards
    a directory listing.  The jobs beyond the write are the plan's own:
    the input's parquet schema read, and one shuffle-map job each for
    the dedup window (md5(text)) and the packing window (lang) — 4.
    --eval adds the eval set's schema read and the decontamination's
    stages: the eval-shingle distinct and its broadcast, the hit-count
    groupBy and its broadcast, and two more dedup-window shuffles (the
    contamination check reads the curated plan three times) — 11.
    A run that samples nothing writes no row, so AQE drops the funnel's
    Observation with the emptied stages: the funnel then costs its own
    aggregate — a dedup-window shuffle, the partial counts' shuffle and
    the result — 7."""
    from parserpdf_spark.jobs.curate_job import main as curate_main

    out = str(tmp_path / "shards")
    argv = ["--input", planted_sf, "--output", out, "--shard-tokens", "5000"]
    if mode != "empty":
        argv += FRACTIONS
    if mode == "eval":
        import pandas as pd

        (tmp_path / "eval").mkdir()
        pd.read_parquet(f"{planted_sf}/documents.parquet")[
            ["doc_id", "text"]
        ].head(10).to_parquet(tmp_path / "eval" / "e.parquet", index=False)
        argv += ["--eval", str(tmp_path / "eval")]

    before = _job_ids(spark)
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert curate_main(argv, spark=spark) == 0
    assert len(_job_ids(spark) - before) <= max_jobs

    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    funnel = {"1_raw": 585, "2_quality": 560, "3_dedup": 500, "4_sample": 181}
    if mode == "empty":
        funnel["4_sample"] = 0
        assert report == {"funnel": funnel, "n_docs_written": 0,
                          "n_shards": 0, "total_tokens": 0}
        return
    shards = spark.read.parquet(out)
    n_written = shards.count()
    if mode == "eval":
        funnel["5_decontaminated"] = n_written
    assert report == {
        "funnel": funnel,
        "n_docs_written": n_written,
        "n_shards": shards.select("lang", "shard_id").distinct().count(),
        "total_tokens": shards.agg(F.sum("n_tokens")).collect()[0][0],
    }
    assert n_written == (177 if mode == "eval" else 181)
