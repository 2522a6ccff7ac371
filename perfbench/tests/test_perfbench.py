"""Self-tests for the benchmark: generator, manifest, span arithmetic.

Run from the repository root::

    python3 -m pytest perfbench/tests -q

No Spark session is started; the inputs are sf0.001-sized.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from tracing import Tracer, parse_metric, self_time_by_name, self_times, task_skew  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


@pytest.fixture(scope="module")
def manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- manifest ---------------------------------------------------------------
def test_manifest_shape(manifest):
    assert set(manifest) == {"command", "paths", "run_seconds", "workloads",
                             "end_to_end", "per_layer"}
    assert 1 <= len(manifest["paths"]) <= 16
    for p in manifest["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    cmd = manifest["command"]
    assert 1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd)
    for c in cmd[1:]:
        assert not c.startswith("/") and ".." not in c.split("/")
        if os.path.exists(os.path.join(ROOT, c)):
            assert any(c == p or c.startswith(p.rstrip("/") + "/")
                       for p in manifest["paths"])
    assert isinstance(manifest["run_seconds"], int) and 1 <= manifest["run_seconds"] <= 60
    assert 2 <= len(manifest["workloads"]) <= 8
    for w in manifest["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(manifest["end_to_end"]) <= 16
    assert 1 <= len(manifest["per_layer"]) <= 128
    assert len(json.dumps(manifest)) <= 64 * 1024


def test_metric_names_and_units(manifest):
    names = [w["name"] for w in manifest["workloads"]]
    for m in manifest["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in manifest["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in manifest["end_to_end"] + manifest["per_layer"]:
        assert m["better"] in ("lower", "higher")
        assert UNIT.match(m["unit"]), m["unit"]
        names.append(m["name"])
    for n in names:
        assert NAME.match(n), n
    assert len(names) == len(set(names))
    setup = [m for m in manifest["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in manifest["end_to_end"])


def test_workloads_match_manifest(manifest):
    import run
    import workloads

    names = sorted(w["name"] for w in manifest["workloads"])
    assert sorted(workloads.WORKLOADS) == names
    assert sorted(run.PASSES_PER_S) == names


# --- generator --------------------------------------------------------------
def test_stored_docs_deterministic_per_seed():
    a = gen.stored_docs_rows(1, sf=0.001, replicate=2, n_giant=1, giant_spans_n=50)
    b = gen.stored_docs_rows(1, sf=0.001, replicate=2, n_giant=1, giant_spans_n=50)
    c = gen.stored_docs_rows(2, sf=0.001, replicate=2, n_giant=1, giant_spans_n=50)
    assert a == b
    assert a != c
    ids, spans, giants = a
    assert len(ids) == len(set(ids)) == 100
    assert len(giants) == 1 and len(spans[ids.index(giants[0])]) == 50


def test_cached_inputs_record_sizes(tmp_path):
    path, meta = gen.stored_docs(str(tmp_path), 3, sf=0.001, replicate=2,
                                 n_files=2, n_giant=1, giant_spans_n=20)
    again, meta2 = gen.stored_docs(str(tmp_path), 3, sf=0.001, replicate=2,
                                   n_files=2, n_giant=1, giant_spans_n=20)
    assert path == again and meta == meta2
    assert len(os.listdir(path)) == meta["files"] == 2
    for key in ("docs", "bytes", "spans", "families", "giant_doc_ids"):
        assert key in meta
    assert sum(meta["families"].values()) == meta["docs"] == 100
    assert str(gen.GEN_VERSION) in meta["cache_key"]


def test_evict_keeps_most_recent(tmp_path):
    for seed in (1, 2, 3):
        gen.stored_docs(str(tmp_path), seed, sf=0.001, replicate=1, n_files=1,
                        n_giant=0, giant_spans_n=0)
    gen.evict(str(tmp_path / "inputs"), keep=2)
    assert len(os.listdir(tmp_path / "inputs")) == 2


def test_corpus_copies_unique_stems(tmp_path):
    corpus = os.path.join(ROOT, "fixtures", "files_corpus")
    root_a, meta_a = gen.corpus_copies(str(tmp_path / "a"), 5, corpus, 3)
    root_b, meta_b = gen.corpus_copies(str(tmp_path / "b"), 5, corpus, 3)
    root_c, meta_c = gen.corpus_copies(str(tmp_path / "c"), 6, corpus, 3)

    def layout(root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    assert layout(root_a) == layout(root_b)
    assert layout(root_a) != layout(root_c)
    stems = [gen.split_name(os.path.basename(p))[0] for p in layout(root_a)]
    assert len(stems) == len(set(stems)) == 3 * len(os.listdir(corpus))
    assert set(meta_a["doc_map"]) == set(stems)
    assert sum(meta_a["files_per_suffix"].values()) == meta_a["files"]


# --- spans ------------------------------------------------------------------
def test_self_time_on_synthetic_tree():
    spans = [
        {"name": "pass", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 3.0, "parent": 0},
        {"name": "b", "start": 2.0, "end": 5.0, "parent": 0},   # overlaps a
        {"name": "c", "start": 8.0, "end": 12.0, "parent": 0},  # runs past pass
        {"name": "d", "start": 2.5, "end": 4.0, "parent": 2},   # grandchild
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.5)
    by_name = self_time_by_name(spans + [dict(spans[1])])
    assert by_name["a"] == pytest.approx(4.0)


def test_tracer_records_parents_only_when_enabled():
    t = Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    off = Tracer(enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_parse_metric_and_skew():
    assert parse_metric("total (min, med, max (stageId: taskId))\n32.9 s (1.5 s)") == 32.9
    assert parse_metric("total (min, med, max)\n602 ms (9 ms)") == pytest.approx(0.602)
    assert parse_metric("total (min, med, max)\n2.0 KiB (1 B)") == 2048
    assert parse_metric("514,719") == 514719
    assert parse_metric(None) == 0.0
    assert task_skew([1.0, 1.0, 4.0]) == 4.0
    assert task_skew([]) == 0.0


def test_synth_expectation_matches_kernel():
    from parserpdf_spark.kernels.extract import extract_document_safe
    from parserpdf_spark.sources.synth import synth_doc
    from workloads import synth_expectation

    for nid, text in enumerate(gen.base_texts(7, 60)):
        out, met = extract_document_safe(synth_doc(nid, text))
        head, paras, counts = synth_expectation(nid, text)
        kinds: dict[str, int] = {}
        for s in out:
            kinds[s["kind"]] = kinds.get(s["kind"], 0) + 1
        assert met["status"] == "ok"
        assert [s["text"] for s in out if s["kind"] == "heading"] == [head]
        assert [s["text"] for s in out if s["kind"] == "para"] == paras
        assert kinds == {k: v for k, v in counts.items() if v}
