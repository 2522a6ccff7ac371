"""The package-init hook that keeps Python < 3.13 Spark workers from
re-reading zipped packages (pyspark.zip, py4j) on every task, the worker
daemon that starts every worker with pyspark's bytecode and that hook
installed, and the kernel layer's promise to stay Spark-free."""

import importlib
import json
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

import parserpdf_spark
from parserpdf_spark import _daemon

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


def _spark_zip():
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")


def _write_pyspark_zip(path, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")


def test_daemon_moves_spark_zips_last_only_for_the_installed_version(tmp_path):
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    spark_zip, py4j_zip = str(lib / "pyspark.zip"), str(lib / "py4j-src.zip")
    _write_zip(py4j_zip, ["py4j"])
    other_zip = str(tmp_path / "deps.zip")
    path = [str(tmp_path), spark_zip, py4j_zip, other_zip, "/site-packages"]

    _write_pyspark_zip(spark_zip, _daemon._installed_version())
    assert _daemon.zips_last(path) == [
        str(tmp_path), other_zip, "/site-packages", spark_zip, py4j_zip
    ]

    _write_pyspark_zip(spark_zip, "0.0.1")
    assert _daemon.zips_last(path) == path
    no_spark_zip = [p for p in path if p != spark_zip]
    assert _daemon.zips_last(no_spark_zip) == no_spark_zip


def test_workers_import_pyspark_from_bytecode(spark):
    if _daemon._zip_version(_spark_zip()) != _daemon._installed_version():
        pytest.skip("installed pyspark differs from Spark's pyspark.zip")

    def pyspark_file(batches):
        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"file": [pyspark.__file__]})

    files = {
        r.file
        for r in spark.range(8, numPartitions=8)
        .mapInArrow(pyspark_file, "file string")
        .collect()
    }
    assert files and not any(".zip" in f for f in files)


# a session started outside the repo, with the repo on the driver's
# sys.path only: fresh workers report what the daemon gave them before
# any task imported the package, and a plain Python UDF still runs
FOREIGN_SESSION = """
import json, sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from pyspark.sql import functions as F
from parserpdf_spark.session import get_spark

def guard_before_import(batches):
    import zipimport
    guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
    import parserpdf_spark  # noqa: F401  (what engine UDFs import)
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({{"guarded": [guarded]}})

def outcome(probe):
    try:
        return probe()
    except Exception as exc:  # each probe reports its own failure
        return str(exc)[-2000:]

spark = get_spark(cores=2, extra_conf={{"spark.driver.memory": "1g"}})
result = {{
    "guarded": outcome(lambda: [r.guarded for r in spark.range(
        4, numPartitions=4).mapInArrow(guard_before_import, "guarded boolean")
        .collect()]),
    "plus_one": outcome(lambda: [r[0] for r in spark.range(3).select(
        F.udf(lambda x: x + 1, "long")("id")).collect()]),
}}
spark.stop()
print(json.dumps(result))
"""


@pytest.fixture(scope="module")
def foreign_session(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("foreign_cwd")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", FOREIGN_SESSION.format(repo=REPO)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@eager_zip_invalidation
def test_workers_fork_with_the_zip_guard_installed(foreign_session):
    assert foreign_session["guarded"] == [True] * 4


def test_python_udf_runs_in_a_session_started_outside_the_repo(foreign_session):
    assert foreign_session["plus_one"] == [1, 2, 3]


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
