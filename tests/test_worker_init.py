"""The package-init hook that keeps Python < 3.13 Spark workers from
re-reading zipped packages (pyspark.zip, py4j) on every task, and the
kernel layer's promise to stay Spark-free."""

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

import parserpdf_spark

eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip invalidation is lazy from 3.13"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module, a read counter on
    ``zipimport._read_directory`` for that archive, and every bit of
    zipimport/import state put back afterwards."""
    archive = str(tmp_path / "zipped_pkg.zip")
    _write_zip(archive, ["zipped_mod_a"])
    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zipped_mod_a")
    reads.clear()
    yield archive, reads
    for name in ("zipped_mod_a", "zipped_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _install_hook_as_worker(monkeypatch):
    worker = types.ModuleType("pyspark.worker")
    monkeypatch.setitem(sys.modules, "pyspark.worker", worker)
    importlib.reload(parserpdf_spark)


@eager_zip_invalidation
def test_unchanged_zip_is_not_reread_and_changed_zip_is(zipped, monkeypatch):
    archive, reads = zipped
    _install_hook_as_worker(monkeypatch)
    hook = zipimport.zipimporter.invalidate_caches
    _install_hook_as_worker(monkeypatch)  # idempotent: no wrapper on a wrapper
    assert zipimport.zipimporter.invalidate_caches is hook

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["zipped_mod_a", "zipped_mod_b"])
    importlib.invalidate_caches()
    assert len(reads) >= 1
    assert importlib.import_module("zipped_mod_b").NAME == "zipped_mod_b"


@eager_zip_invalidation
def test_hook_is_a_noop_outside_a_worker(zipped, monkeypatch):
    _, reads = zipped
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    original = zipimport.zipimporter.invalidate_caches
    importlib.reload(parserpdf_spark)
    assert zipimport.zipimporter.invalidate_caches is original

    importlib.invalidate_caches()
    assert len(reads) >= 1


@eager_zip_invalidation
def test_workers_read_zips_only_in_their_first_task(spark):
    """Every task of a reused worker runs ``importlib.invalidate_caches()``;
    once the engine package is imported there, later tasks read no zip
    directory."""
    import pyarrow as pa

    def reads_per_task(batches):
        import zipimport

        import parserpdf_spark  # noqa: F401  (what engine UDFs import)

        if not hasattr(zipimport, "_reads_seen"):
            zipimport._reads_seen = [0]
            read = zipimport._read_directory

            def counting(path):
                zipimport._reads_seen[0] += 1
                return read(path)

            zipimport._read_directory = counting
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [zipimport._reads_seen[0]]}
        )

    # more tasks than the idle workers earlier tests can leave behind, so
    # some worker runs several of them even if idle workers rotate
    rows = (
        spark.range(64, numPartitions=64)
        .mapInArrow(reads_per_task, "pid long, reads long")
        .collect()
    )
    by_pid = {}
    for row in rows:
        by_pid.setdefault(row.pid, []).append(row.reads)
    assert len(rows) == 64
    assert any(len(reads) > 1 for reads in by_pid.values())  # reuse happened
    # counts only grow, so equal min and max means no task after the first read
    assert {pid: min(r) for pid, r in by_pid.items()} == {
        pid: max(r) for pid, r in by_pid.items()
    }


def test_kernels_import_without_spark_or_pandas():
    code = (
        "import sys, parserpdf_spark.kernels; "
        "print(sorted(m for m in sys.modules "
        "if m.split('.')[0] in ('pyspark', 'pandas')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]"
