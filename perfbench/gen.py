"""Seeded, single-process input generator for the workloads.

Everything the program sees is made here from ``--seed``; the same seed
gives byte-identical inputs.  Outputs are cached (untimed) under the
work directory, keyed by workload, seed, size, ``synth.SYNTH_VERSION``
and :data:`GEN_VERSION`.  Each input directory carries a ``meta.json``
recording its sizes, which the benchmark copies into its result.

No Spark here: inputs are written with pyarrow (or as plain files), so
generation cost never mixes with the program's own set-up.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from parserpdf_spark.sources.synth import SYNTH_VERSION, synth_doc

# bump on any change to what the generator writes
GEN_VERSION = 3

# the sandbox documents table's vocabulary and length range (10..100
# words of word salad), so texts look like the sf-scale documents
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100

DOCS_PER_SF = 50_000  # documents rows per unit of scale factor (sf0.1 = 5k)

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])

CORPUS_SUBDIRS = 8  # raw-file layout: files spread over this many dirs


def _rng(seed: int, tag: str) -> random.Random:
    digest = hashlib.sha256(f"{tag}:{seed}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "little"))


def base_texts(seed: int, n: int) -> list[str]:
    """``n`` word-salad texts of 10..100 words over :data:`VOCAB`."""
    rng = _rng(seed, "texts")
    return [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(MIN_WORDS, MAX_WORDS)))
        for _ in range(n)
    ]


def _cached(root: str, key: str, build) -> tuple[str, dict]:
    """Build into ``root/key`` once; later calls read ``meta.json``.

    The directory is built under a temporary name and renamed, so an
    interrupted build never looks complete.
    """
    path = os.path.join(root, key)
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        meta["cache_key"] = key
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    os.utime(path)
    with open(meta_path) as fh:
        return path, json.load(fh)


def evict(root: str, keep: int) -> None:
    """Keep only the ``keep`` most recently used cached inputs."""
    if not os.path.isdir(root):
        return
    entries = [
        os.path.join(root, name) for name in os.listdir(root)
        if os.path.exists(os.path.join(root, name, "meta.json"))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# ---------------------------------------------------------------------------
# extract_stored: a stored interleaved docs table
# ---------------------------------------------------------------------------
def giant_spans(doc_id: str, n_spans: int) -> list[dict]:
    """The skew knob of ``synth_docs_df(giant_doc_ids=…)``: a doc inflated
    to ``n_spans`` html spans."""
    return [
        {"kind": "html", "text": f"<p>giant {doc_id} chunk {j} filler text</p>",
         "media_ref": None, "offset": j}
        for j in range(n_spans)
    ]


def stored_docs_rows(
    seed: int, sf: float, replicate: int, n_giant: int, giant_spans_n: int
) -> tuple[list[str], list[list[dict]], list[str]]:
    """(doc_ids, spans, giant_ids) in seeded shuffled row order.

    Replica ``r`` of base doc ``d`` is ``d_r{r}`` with the same spans
    (the ``synth_docs_df(replicate=…)`` convention); the giant docs
    replace a seeded handful of rows' spans.
    """
    n_base = max(1, round(sf * DOCS_PER_SF))
    texts = base_texts(seed, n_base)
    base = [synth_doc(i, t) for i, t in enumerate(texts)]
    ids, spans = [], []
    for r in range(replicate):
        for i, s in enumerate(base):
            ids.append(str(i) if r == 0 else f"{i}_r{r}")
            spans.append(s)
    rng = _rng(seed, "stored")
    giant_rows = rng.sample(range(len(ids)), min(n_giant, len(ids)))
    for row in giant_rows:
        spans[row] = giant_spans(ids[row], giant_spans_n)
    order = list(range(len(ids)))
    rng.shuffle(order)
    return [ids[i] for i in order], [spans[i] for i in order], sorted(
        ids[r] for r in giant_rows
    )


def stored_docs(
    work: str, seed: int, sf: float = 0.1, replicate: int = 10,
    n_files: int = 128, n_giant: int = 10, giant_spans_n: int = 10_000,
) -> tuple[str, dict]:
    key = (f"stored-s{seed}-sf{sf}-x{replicate}-f{n_files}-g{n_giant}x"
           f"{giant_spans_n}-synth{SYNTH_VERSION}-gen{GEN_VERSION}")

    def build(out: str) -> dict:
        ids, spans, giants = stored_docs_rows(
            seed, sf, replicate, n_giant, giant_spans_n
        )
        table_dir = os.path.join(out, "docs")
        os.makedirs(table_dir)
        per = -(-len(ids) // n_files)
        giant_files = set()
        for f in range(n_files):
            lo, hi = f * per, min((f + 1) * per, len(ids))
            if lo >= hi:
                break
            name = f"part-{f:05d}.parquet"
            table = pa.Table.from_pydict(
                {"doc_id": ids[lo:hi], "spans": spans[lo:hi]}, schema=DOCS_SCHEMA
            )
            pq.write_table(table, os.path.join(table_dir, name))
            if set(ids[lo:hi]) & set(giants):
                giant_files.add(name)
        families = {"html": 0, "pdf_block": 0, "mixed": 0}
        for doc_id in ids:
            fam = int(doc_id.split("_")[0]) % 3
            families[("html", "pdf_block", "mixed")[fam]] += 1
        return {
            "docs": len(ids),
            "base_docs": max(1, round(sf * DOCS_PER_SF)),
            "files": len(os.listdir(table_dir)),
            "bytes": _dir_bytes(table_dir),
            "spans": sum(len(s) for s in spans),
            "families": families,
            "giant_doc_ids": giants,
            "giant_files": sorted(giant_files),
            "giant_spans": giant_spans_n,
            "sf": sf,
            "replicate": replicate,
        }

    path, meta = _cached(os.path.join(work, "inputs"), key, build)
    return os.path.join(path, "docs"), meta


# ---------------------------------------------------------------------------
# ingest_job: copies of the raw-file fixture corpus
# ---------------------------------------------------------------------------
def split_name(name: str) -> tuple[str, str]:
    """(stem, suffix) the way ``sources.files`` derives doc_id/suffix."""
    stem, dot, ext = name.rpartition(".")
    return (stem, f".{ext}") if dot else (name, "")


def corpus_copies(work: str, seed: int, corpus_dir: str, copies: int) -> tuple[str, dict]:
    """``copies`` copies of ``corpus_dir`` spread over a seeded shuffled
    layout.  Each copy's files get a unique stem ``<stem>-<tag>``, since
    ``doc_id`` is the file stem; ``copies.json`` maps every doc_id back
    to its original stem."""
    names = sorted(os.listdir(corpus_dir))
    key = (f"files-s{seed}-k{copies}-n{len(names)}-synth{SYNTH_VERSION}"
           f"-gen{GEN_VERSION}")

    def build(out: str) -> dict:
        rng = _rng(seed, "files")
        tree = os.path.join(out, "corpus")
        tags = rng.sample(range(16 ** 6), copies)
        mapping: dict[str, str] = {}
        per_suffix: dict[str, int] = {}
        placed = []
        for k in range(copies):
            tag = f"{tags[k]:06x}"
            for name in names:
                stem, suffix = split_name(name)
                doc_id = f"{stem}-{tag}"
                mapping[doc_id] = stem
                per_suffix[suffix.lower() or "(none)"] = (
                    per_suffix.get(suffix.lower() or "(none)", 0) + 1
                )
                placed.append((name, doc_id + suffix))
        rng.shuffle(placed)
        for i, (src, dst) in enumerate(placed):
            sub = os.path.join(tree, f"d{rng.randrange(CORPUS_SUBDIRS)}")
            os.makedirs(sub, exist_ok=True)
            shutil.copyfile(os.path.join(corpus_dir, src), os.path.join(sub, dst))
        with open(os.path.join(out, "copies.json"), "w") as fh:
            json.dump(mapping, fh, sort_keys=True)
        return {
            "docs": len(placed),
            "files": len(placed),
            "bytes": _dir_bytes(tree),
            "copies": copies,
            "files_per_suffix": dict(sorted(per_suffix.items())),
        }

    path, meta = _cached(os.path.join(work, "inputs"), key, build)
    with open(os.path.join(path, "copies.json")) as fh:
        mapping = json.load(fh)
    return os.path.join(path, "corpus"), dict(meta, doc_map=mapping)
