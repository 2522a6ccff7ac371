"""The workloads: one pass each, a correctness gate, layer numbers.

Every pass goes through the program's public functions only, from a
state with no cached data (``spark.catalog.clearCache()`` after each
pass).  A workload object is built once per run; :meth:`run_pass`
returns what the pass did, :meth:`gate` checks outputs, and
:meth:`layers` turns one traced pass into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import time

from parserpdf_spark.sources.synth import HEAD_WORDS, PARA_WORDS
from tracing import SparkStatus, Tracer, node_metric, task_skew

import gen

# Sizes: every workload runs 22 times within one 3420 s benchmark budget,
# and on a 4-vCPU box a run already pays 14-30 s of Spark set-up and a
# 12-35 s first pass (Python worker start, codegen) whatever the input
# size.  Full-scale inputs (50k docs, several corpus copies, 8 chunks)
# and a third workload (dedup) do not fit; these do, with room for a
# host that steals a third of the CPU.
EXTRACT_SF, EXTRACT_REPLICATE, EXTRACT_FILES = 0.02, 10, 128
EXTRACT_GIANTS, EXTRACT_GIANT_SPANS = 4, 10_000
INGEST_COPIES = 1
INGEST_CHUNKS = 1

ROUTE_SUFFIXES = ("doc", "docx", "epub", "htm", "html", "md", "odt", "pdf",
                  "rtf", "txt", "none")
INGEST_STATUSES = ("ok", "error", "skipped", "encrypted", "needs_ocr",
                   "needs_prechunk")
FAMILIES = ("html", "pdf_block", "mixed")
REPEATS = 5  # timings of the pure-Python probes keep the best of this many


def noop(df) -> None:
    """Run every column of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def _checksum(spans: list[dict]) -> str:
    import hashlib

    parts = [
        f"{s['offset']}\x1e{s['kind']}\x1e{s['text'] or ''}\x1e{s['media_ref'] or ''}"
        for s in sorted(spans, key=lambda s: s["offset"])
    ]
    return hashlib.md5("\x1f".join(parts).encode()).hexdigest()


def _tree_bytes(path: str, suffixes: tuple[str, ...] | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``, optionally only names ending in ``suffixes``."""
    total = count = 0
    for d, _, files in os.walk(path):
        for f in files:
            if suffixes is None or f.endswith(suffixes):
                total += os.path.getsize(os.path.join(d, f))
                count += 1
    return total, count


def synth_expectation(nid: int, text: str) -> tuple[str, list[str], dict[str, int]]:
    """What extraction must make of synthesized doc ``nid``, without
    running it: the heading, the paragraph texts in order, and the span
    count per kind (the formulas of the DuckDB oracle in
    ``__spark_entry__``, over ``sources.synth``'s document structure)."""
    words = [w for w in text.split(" ") if w]
    head = "# " + " ".join(words[:HEAD_WORDS])
    paras = [" ".join(words[i:i + PARA_WORDS])
             for i in range(HEAD_WORDS, len(words), PARA_WORDS)]
    fig = nid % 3 == 1 and nid % 4 == 1
    counts = {
        "heading": 1, "para": len(paras),
        "image": 2 if nid % 3 == 2 else int(fig), "caption": int(fig),
        "table": int(nid % 6 == 0), "list": int(nid % 6 == 3), "code": int(nid % 3 == 2),
    }
    return head, paras, counts


class Workload:
    name = ""

    def __init__(self, spark, root: str, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.status = SparkStatus(spark)
        self.meta: dict = {}

    def prepare(self) -> None:
        """Generate (or reuse) the inputs; untimed."""

    def run_pass(self, i: int) -> dict:
        """One timed pass → {"docs": attempted, "errors": docs whose
        status is error, "missing": docs absent from the output}."""
        raise NotImplementedError

    def gate(self) -> list[str]:
        """Correctness problems found after the passes ([] = pass)."""
        raise NotImplementedError

    def layers(self, spans: list[dict], mark) -> dict:
        """Per-layer numbers for one traced pass."""
        raise NotImplementedError

    def probes(self) -> dict:
        """Pure-Python layer timings over fixed samples (traced runs)."""
        return {}

    def end_pass(self) -> None:
        self.spark.catalog.clearCache()

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
class ExtractStored(Workload):
    """stored docs table → ``extract_combined`` → noop sink."""

    name = "extract_stored"

    def prepare(self):
        self.path, self.meta = gen.stored_docs(
            self.work, self.seed, sf=EXTRACT_SF, replicate=EXTRACT_REPLICATE,
            n_files=EXTRACT_FILES, n_giant=EXTRACT_GIANTS,
            giant_spans_n=EXTRACT_GIANT_SPANS,
        )

    def run_pass(self, i):
        from pyspark.sql import Observation, functions as F

        from parserpdf_spark.operators.extract import extract_combined

        t = self.tracer
        obs = Observation(f"extract_{i}")
        with t.span("sources.scan.build"):
            docs = self.spark.read.parquet(self.path)
        with t.span("operators.extract.build"):
            combined = extract_combined(docs)
        observed = combined.observe(
            obs,
            F.count(F.when(F.col("kind") == "_metrics", 1)).alias("docs_out"),
            F.count(F.when(F.col("status") == "error", 1)).alias("errors"),
        )
        with t.span("operators.extract.run"):
            noop(observed)
        got = obs.get
        n = self.meta["docs"]
        return {"docs": n, "errors": got["errors"], "missing": max(0, n - got["docs_out"])}

    def gate(self):
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from parserpdf_spark.kernels.extract import extract_document_safe
        from parserpdf_spark.operators.extract import extract_combined

        # the sample: every doc of one seeded file plus the giant docs;
        # Spark re-extracts just the files that hold them
        from parserpdf_spark.sources.synth import DOCS_DDL

        giants = set(self.meta["giant_doc_ids"])
        picked = random.Random(self.seed).choice(sorted(os.listdir(self.path)))
        files = sorted({picked, *self.meta["giant_files"]})
        rows = []
        for f in files:
            table = pq.read_table(os.path.join(self.path, f))
            ids = table.column("doc_id").to_pylist()
            keep = [i for i, d in enumerate(ids) if f == picked or d in giants]
            rows.extend(table.take(keep).to_pylist())
        sample = {r["doc_id"] for r in rows}
        expected = {}
        for r in rows:
            out, met = extract_document_safe(r["spans"])
            expected[r["doc_id"]] = (_checksum(out), met["status"])
        got_rows = extract_combined(
            self.spark.read.schema(DOCS_DDL).parquet(*[os.path.join(self.path, f) for f in files])
            .filter(F.col("doc_id").isin(sorted(sample)))
        ).collect()
        spans: dict[str, list[dict]] = {d: [] for d in sample}
        status: dict[str, str] = {}
        for r in got_rows:
            if r["kind"] == "_metrics":
                status[r["doc_id"]] = r["status"]
            else:
                spans[r["doc_id"]].append(r.asDict())
        problems = []
        for doc_id, (checksum, st) in expected.items():
            if status.get(doc_id) != st or _checksum(spans[doc_id]) != checksum:
                problems.append(f"extract_stored: doc {doc_id} differs from "
                                "extract_document_safe")
        # kernel-independent: the synthesized structure fixes the output
        texts = gen.base_texts(self.seed, self.meta["base_docs"])
        for doc_id in sorted(sample - set(self.meta["giant_doc_ids"])):
            nid = int(doc_id.split("_")[0])
            head, paras, counts = synth_expectation(nid, texts[nid])
            ordered = sorted(spans[doc_id], key=lambda s: s["offset"])
            kinds: dict[str, int] = {}
            for s in ordered:
                kinds[s["kind"]] = kinds.get(s["kind"], 0) + 1
            if ([s["text"] for s in ordered if s["kind"] == "heading"] != [head]
                    or [s["text"] for s in ordered if s["kind"] == "para"] != paras
                    or kinds != {k: v for k, v in counts.items() if v}):
                problems.append(f"extract_stored: doc {doc_id} does not match "
                                "its synthesized structure")
        for g in self.meta["giant_doc_ids"]:
            if len(spans[g]) != self.meta["giant_spans"]:
                problems.append(f"extract_stored: giant doc {g} has "
                                f"{len(spans[g])} spans, not {self.meta['giant_spans']}")
        return problems[:10]

    def layers(self, spans, mark):
        execs = self.status.executions(mark)
        stages = self.status.stages(mark, with_tasks=True)
        ext = max(stages, key=lambda s: s["tasks"]) if stages else {"task_s": []}
        return {
            "sources.scan_s": node_metric(execs, "Scan parquet", "scan time"),
            "sources.scan_bytes": node_metric(execs, "Scan parquet", "size of files read"),
            "operators.extract.python_run_s": node_metric(
                execs, "MapInArrow", "time to run Python workers"),
            "operators.extract.python_init_s": node_metric(
                execs, "MapInArrow", "time to initialize Python workers"),
            "operators.extract.bytes_to_python": node_metric(
                execs, "MapInArrow", "data sent to Python workers"),
            "operators.extract.bytes_from_python": node_metric(
                execs, "MapInArrow", "data returned from Python workers"),
            "operators.extract.task_skew": task_skew(ext["task_s"]),
        }

    def probes(self):
        """Python side of the extract stage over fixed stored batches:
        decode, kernel per family, and output batch build."""
        import pyarrow.parquet as pq

        from parserpdf_spark.kernels.extract import extract_document_safe
        from parserpdf_spark.operators import extract as op

        files = sorted(os.listdir(self.path))[:8]
        giants = set(self.meta["giant_doc_ids"])
        batches = []
        for f in files:
            tbl = pq.read_table(os.path.join(self.path, f))
            keep = [i for i, d in enumerate(tbl.column("doc_id").to_pylist())
                    if d not in giants]
            batches.extend(tbl.take(keep).to_batches())
        decode_s = float("inf")
        for _ in range(REPEATS):  # best of a few: the sample takes ~30 ms
            t0 = time.perf_counter()
            decoded = [list(op._decode_docs(b)) for b in batches]
            decode_s = min(decode_s, time.perf_counter() - t0)
        fam_s = {f: 0.0 for f in FAMILIES}
        fam_n = {f: 0 for f in FAMILIES}
        results = []
        for docs in decoded:
            for doc_id, doc_spans in docs:
                fam = FAMILIES[int(doc_id.split("_")[0]) % 3]
                t0 = time.perf_counter()
                results.append(extract_document_safe(doc_spans))
                fam_s[fam] += time.perf_counter() - t0
                fam_n[fam] += 1
        # the stage's Python side again, with the kernel's answers served
        # from memory: what is left is decode plus output batch build
        whole_s = float("inf")
        try:
            for _ in range(REPEATS):
                served = iter(results)
                op.extract_document_safe = lambda spans: next(served)
                t0 = time.perf_counter()
                for _ in op._extract_batches_arrow(iter(batches)):
                    pass
                whole_s = min(whole_s, time.perf_counter() - t0)
        finally:
            op.extract_document_safe = extract_document_safe
        out = {
            "operators.extract.decode_s": decode_s,
            "operators.extract.batch_build_s": max(0.0, whole_s - decode_s),
        }
        for f in FAMILIES:
            out[f"kernels.extract_document_s.{f}"] = fam_s[f] / max(1, fam_n[f])
        return out


# ---------------------------------------------------------------------------
class IngestJob(Workload):
    """raw files → ``jobs.extract_job.main`` → Markdown export."""

    name = "ingest_job"

    def prepare(self):
        self.corpus = os.path.join(self.root, "fixtures", "files_corpus")
        self.input, self.meta = gen.corpus_copies(
            self.work, self.seed, self.corpus, INGEST_COPIES)
        self.doc_map = self.meta.pop("doc_map")
        self.out_root = os.path.join(self.work, f"out-{os.getpid()}")
        self.last_out = None

    def _fresh_out(self, i: int) -> tuple[str, str]:
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        base = os.path.join(self.out_root, f"pass-{i}")
        self.last_out = base
        return os.path.join(base, "job"), os.path.join(base, "md")

    def run_pass(self, i):
        from parserpdf_spark.jobs import extract_job
        from parserpdf_spark.operators.sinks import export_markdown_files
        from parserpdf_spark.plans.checkpoint import read_extracted

        t = self.tracer
        job_out, md_out = self._fresh_out(i)
        buf = io.StringIO()
        tracker = self.spark.sparkContext.statusTracker()
        jobs0 = len(tracker.getJobIdsForGroup())
        with t.span("jobs.extract_job.main"):
            with contextlib.redirect_stdout(buf):
                extract_job.main(
                    ["--input", self.input, "--output", job_out,
                     "--chunks", str(INGEST_CHUNKS), "--run-id", f"pass{i}"],
                    spark=self.spark,
                )
        self.main_jobs = len(tracker.getJobIdsForGroup()) - jobs0
        report = json.loads(buf.getvalue().strip().splitlines()[-1])
        with t.span("plans.checkpoint.read"):
            extracted = read_extracted(self.spark, job_out)
        with t.span("operators.sinks.export_markdown"):
            n_md = export_markdown_files(extracted, md_out)
        self.report, self.n_md, self.job_out, self.md_out = report, n_md, job_out, md_out
        files = report.get("files_by_ingest_status", {})
        n_files = self.meta["files"]
        docs_status = report.get("docs_by_status", {})
        missing = (max(0, files.get("ok", 0) - sum(docs_status.values()))
                   + max(0, n_files - sum(files.values())))
        return {"docs": n_files, "missing": missing,
                "errors": files.get("error", 0) + docs_status.get("error", 0)}

    def out_bytes(self) -> int:
        chunk_b, _ = _tree_bytes(os.path.join(self.job_out, "chunks"), (".parquet",))
        man_b, _ = _tree_bytes(os.path.join(self.job_out, "_manifest"), (".json",))
        md_b, _ = _tree_bytes(self.md_out, (".md", ".txt"))
        return chunk_b + man_b + md_b

    def gate(self):
        import pyarrow.parquet as pq

        from parserpdf_spark.plans.checkpoint import committed_chunks

        problems = []
        golden = pq.read_table(os.path.join(
            self.root, "goldens", "extract_files.parquet")).to_pylist()
        want: dict[str, list[dict]] = {}
        for r in golden:
            want.setdefault(r["doc_id"], []).append(r)
        status_golden = {
            r["doc_id"]: r["ingest_status"]
            for r in pq.read_table(os.path.join(
                self.root, "goldens", "file_ingest_status.parquet")).to_pylist()
        }
        got: dict[str, list[dict]] = {}
        for chunk in committed_chunks(self.job_out):
            table = pq.read_table(os.path.join(self.job_out, "chunks", f"chunk={chunk}"))
            for r in table.to_pylist():
                if r["kind"] != "_metrics":
                    got.setdefault(r["doc_id"], []).append(r)
        for doc_id, stem in self.doc_map.items():
            exp = want.get(stem, [])
            if _checksum(got.get(doc_id, [])) != _checksum(exp):
                problems.append(f"ingest_job: {doc_id} differs from golden {stem}")
        extra = set(got) - set(self.doc_map)
        if extra:
            problems.append(f"ingest_job: unexpected docs {sorted(extra)[:3]}")
        copies = self.meta["copies"]
        want_status: dict[str, int] = {}
        for st in status_golden.values():
            want_status[st] = want_status.get(st, 0) + copies
        if self.report.get("files_by_ingest_status") != want_status:
            problems.append(f"ingest_job: statuses {self.report.get('files_by_ingest_status')}"
                            f" != golden {want_status}")
        ok_docs = sum(1 for s in status_golden.values() if s == "ok") * copies
        _, md_files = _tree_bytes(self.md_out, (".md",))
        if md_files != ok_docs or self.n_md != ok_docs:
            problems.append(f"ingest_job: {md_files} markdown files for {ok_docs} ok docs")
        return problems[:10]

    def layers(self, spans, mark):
        execs = self.status.executions(mark)
        stages = self.status.stages(mark, with_tasks=True)
        main = next(i for i, s in enumerate(spans) if s["name"] == "jobs.extract_job.main")
        m0, m1 = spans[main]["start"], spans[main]["end"]
        for e in execs:
            if not (m0 <= e["start"] <= m1):
                continue
            nodes = e["nodes"]
            if any("InsertIntoHadoopFsRelation" in n or n.startswith("WriteFiles")
                   for n in nodes):
                layer = "plans.checkpoint.write"
            elif any(n.startswith("MapInPandas") for n in nodes) and any(
                    n.startswith("Scan binaryFile") for n in nodes):
                layer = "sources.files.bridge"
            elif any(n.startswith("Scan parquet") for n in nodes):
                layer = "plans.checkpoint.read"
            else:
                layer = "jobs.extract_job.spark"
            self.tracer.add(layer, e["start"], min(e["end"], m1), main)
        # the bridge runs in the stage that reads the raw files
        skew_tasks = max(
            (s for s in stages if s["input_bytes"] > 0 and s["tasks"] > 1),
            key=lambda s: s["run_s"], default={"task_s": []},
        )["task_s"]
        files = self.report.get("files_by_ingest_status", {})
        out = {
            # a row-based binaryFile scan reports no scan time, only bytes
            "sources.scan_bytes": node_metric(execs, "Scan binaryFile", "size of files read"),
            "sources.files.task_skew": task_skew(skew_tasks),
            "jobs.extract_job.spark_jobs": float(self.main_jobs),
            "plans.checkpoint.bytes_written": float(_tree_bytes(
                os.path.join(self.job_out, "chunks"), (".parquet",))[0]),
            "operators.sinks.files_written": float(
                _tree_bytes(self.md_out, (".md",))[1]),
            "jobs.extract_job.out_bytes_per_in_byte": self.out_bytes() / self.meta["bytes"],
            "operators.extract.python_run_s": node_metric(
                execs, "MapInArrow", "time to run Python workers"),
            "operators.extract.python_init_s": node_metric(
                execs, "MapInArrow", "time to initialize Python workers"),
            "operators.extract.bytes_to_python": node_metric(
                execs, "MapInArrow", "data sent to Python workers"),
            "operators.extract.bytes_from_python": node_metric(
                execs, "MapInArrow", "data returned from Python workers"),
        }
        for st in INGEST_STATUSES:
            out[f"sources.files.status.{st}"] = float(files.get(st, 0))
        return out

    def probes(self):
        """``route_file`` per suffix over the generated files; PDFs that
        carry an /Encrypt dictionary are timed on their own."""
        from parserpdf_spark.sources.files import route_file

        per_s: dict[str, float] = {}
        per_n: dict[str, int] = {}
        paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(self.input) for f in fs)
        for path in paths:
            with open(path, "rb") as fh:
                content = fh.read()
            _, suffix = gen.split_name(os.path.basename(path))
            key = suffix.lower().lstrip(".") or "none"
            if key == "pdf" and b"/Encrypt" in content:
                key = "pdf_encrypted"
            t0 = time.perf_counter()
            route_file(path, content)
            per_s[key] = per_s.get(key, 0.0) + time.perf_counter() - t0
            per_n[key] = per_n.get(key, 0) + 1
        return {
            f"kernels.route_file_s.{k}": per_s.get(k, 0.0) / max(1, per_n.get(k, 0))
            for k in ROUTE_SUFFIXES + ("pdf_encrypted",)
        }

    def close(self):
        shutil.rmtree(self.out_root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (ExtractStored, IngestJob)}
