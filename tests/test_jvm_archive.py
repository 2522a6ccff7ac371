"""The driver JVM's class-data-sharing archive cache (session.py).

A launch on a fresh cache dumps ``<key>.<pid>.tmp`` as its JVM exits and
promotes it to ``<key>.jsa`` only once that JVM exited 0; later launches
map the archive.  Every launch the archive cannot serve starts the JVM
exactly as a session without the cache does.  The JVM tests run in
subprocesses, each with its own cache directory.
"""

import json
import os
import resource
import shutil
import subprocess
import sys

import pytest
from pyspark import SparkContext

from parserpdf_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "fixtures", "files_corpus")


def _run(code: str, cwd, preexec_fn=None):
    return subprocess.run(
        [sys.executable, "-c", code],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=400,
        preexec_fn=preexec_fn,
    )


def _cache_files(cache) -> list[str]:
    return sorted(n for n in os.listdir(cache) if n != "conf")


QUERY = """
import sys
sys.path.insert(0, {repo!r})
from parserpdf_spark import session
session.JVM_CACHE = {cache!r}
spark = session.get_spark(cores=1)
print(spark.range(1000).selectExpr("sum(id)").first()[0])
"""


# Close the JVM's stdin so it exits and dumps, and SIGKILL it as soon as
# its dump file holds bytes: the write phase takes ~0.25 s of a ~15 s
# dump on 4 vCPUs.
KILLED_MID_DUMP = QUERY + """
import os, signal, time
proc, tmp, _ = session._dumps[0]
proc.stdin.close()
while proc.poll() is None and not (os.path.exists(tmp) and os.path.getsize(tmp)):
    time.sleep(0.001)
os.kill(proc.pid, signal.SIGKILL)
proc.wait()
print(os.path.getsize(tmp), proc.returncode)
"""


# the driver JVM's own arguments: is it mapping a CDS archive?
MAPS_ARCHIVE = QUERY + """
bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory
args = bean.getRuntimeMXBean().getInputArguments()
print(any(str(a).startswith("-XX:SharedArchiveFile") for a in args))
"""


def test_a_dump_cut_short_is_never_promoted(tmp_path):
    """A JVM whose dump cannot be written in full (a 50 MB file-size
    limit on its process, against a ~140 MB archive) exits non-zero and
    leaves neither an archive nor a dump file, and its exit message
    stays off stdout.  A JVM killed while it writes its dump leaves a
    partial file, which is deleted, not promoted.  The next session on
    that cache starts, runs a query, and promotes its own dump.  Once
    that archive is cut to half its size, the JVM that maps it dies
    (SIGBUS); the session deletes the archive and starts a JVM without
    one, which runs the query."""
    cache = str(tmp_path / "cache")
    code = QUERY.format(repo=REPO, cache=cache)
    limit = 50 << 20

    def capped():
        resource.setrlimit(resource.RLIMIT_FSIZE, (limit, limit))

    cut = _run(code, tmp_path, preexec_fn=capped)
    assert cut.returncode == 0, cut.stderr[-3000:]
    assert cut.stdout == "499500\n"  # the JVM's exit message goes to stderr
    assert _cache_files(cache) == []

    killed = _run(KILLED_MID_DUMP.format(repo=REPO, cache=cache), tmp_path)
    assert killed.returncode == 0, killed.stderr[-3000:]
    partial, code_at_exit = map(int, killed.stdout.split()[-2:])
    assert partial > 0 and code_at_exit == -9
    assert _cache_files(cache) == []

    after = _run(code, tmp_path)
    assert after.returncode == 0, after.stderr[-3000:]
    assert after.stdout.strip() == "499500"
    files = _cache_files(cache)
    assert len(files) == 1 and files[0].endswith(".jsa")

    archive = os.path.join(cache, files[0])
    os.truncate(archive, os.path.getsize(archive) // 2)
    crash_cwd = tmp_path / "crash"  # where the dying JVM writes hs_err_pid*.log
    crash_cwd.mkdir()
    damaged = _run(MAPS_ARCHIVE.format(repo=REPO, cache=cache), crash_cwd)
    assert damaged.returncode == 0, damaged.stderr[-3000:]
    assert damaged.stdout.split()[-2:] == ["499500", "False"]
    assert _cache_files(cache) == []


EXTRACT_JOB = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from parserpdf_spark import session
from parserpdf_spark.jobs.extract_job import main
session.JVM_CACHE = {cache!r}
env = dict(os.environ)
rc = main(["--input", {src!r}, "--output", {out!r}, "--cores", "2",
           "--chunks", "1"])
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{{pid}}/maps") as fh:
    maps = sorted({{line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")}})
conf_dir_kept = os.environ.get("SPARK_CONF_DIR") == env.get("SPARK_CONF_DIR")
print(json.dumps({{"maps": maps, "conf_dir_kept": conf_dir_kept}}),
      file=sys.stderr)
sys.exit(rc)
"""


def test_a_miss_dumps_and_a_hit_maps_the_archive(tmp_path):
    """On a fresh cache the first extract_job run dumps the archive at
    exit and the second maps it; both print their JSON report as the
    last stdout line, with no CDS log line anywhere on stdout, and
    SPARK_CONF_DIR is as it was after the launch."""
    src = tmp_path / "in"
    src.mkdir()
    for name in ("doc_0.html", "doc_54.md", "readme_1.txt"):
        shutil.copy(os.path.join(FIXTURES, name), src)
    cache = str(tmp_path / "cache")
    runs = []
    for run in ("miss", "hit"):
        out = _run(EXTRACT_JOB.format(repo=REPO, cache=cache, src=str(src),
                                      out=str(tmp_path / run)), tmp_path)
        assert out.returncode == 0, out.stderr[-3000:]
        assert "cds" not in out.stdout
        report = json.loads(out.stdout.strip().splitlines()[-1])
        probe = json.loads(out.stderr.strip().splitlines()[-1])
        assert probe["conf_dir_kept"]
        runs.append((report, probe["maps"], _cache_files(cache)))
    (miss, miss_maps, after_miss), (hit, hit_maps, after_hit) = runs
    assert miss == hit
    assert miss["committed_this_run"] == [0]
    assert len(after_miss) == 1 and after_miss[0].endswith(".jsa")
    assert after_hit == after_miss
    archive = os.path.join(cache, after_miss[0])
    assert archive not in miss_maps
    assert archive in hit_maps


FALLBACKS = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from parserpdf_spark import session

def launch(extra_conf=None):
    env = dict(os.environ)
    spark = session.get_spark(cores=1, extra_conf=extra_conf)
    jvm = spark.sparkContext._jvm
    got = {{
        "args": list(jvm.java.lang.management.ManagementFactory
                     .getRuntimeMXBean().getInputArguments()),
        # pyspark itself exports a few settings to its workers' env
        "env_changed": sorted(k for k in set(env) | set(os.environ)
                              if env.get(k) != os.environ.get(k)),
        "marker": spark.conf.get("spark.parserpdf.marker", None),
    }}
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None
    return got

cases = json.loads(sys.argv[1])
result = {{}}
for name, case in cases.items():
    session.JVM_CACHE = case.get("cache", {cache!r})
    saved = dict(os.environ)
    os.environ.update(case.get("env", {{}}))
    archive_options = session._archive_options
    if name == "today":
        session._archive_options = lambda *args: None
    result[name] = launch(case.get("conf"))
    session._archive_options = archive_options
    os.environ.clear()
    os.environ.update(saved)
print(json.dumps(result))
"""


def test_each_fallback_starts_the_jvm_as_today(tmp_path):
    """A real spark-defaults.conf (whose setting still reaches the
    session), HADOOP_CONF_DIR, YARN_CONF_DIR, SPARK_DIST_CLASSPATH, a
    caller's own driver Java options and an unwritable cache each start
    the JVM with the input arguments of a launch without the cache, and
    change os.environ as that launch does."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.parserpdf.marker 7\n")
    empty = tmp_path / "empty"
    empty.mkdir()
    blocker = tmp_path / "a_file"
    blocker.write_text("")
    cache = tmp_path / "cache"
    own = "-Dparserpdf.own=1"
    cases = {
        "today": {},
        "spark_defaults": {"env": {"SPARK_CONF_DIR": str(conf_dir)}},
        "hadoop_conf_dir": {"env": {"HADOOP_CONF_DIR": str(empty)}},
        "yarn_conf_dir": {"env": {"YARN_CONF_DIR": str(empty)}},
        "dist_classpath": {"env": {"SPARK_DIST_CLASSPATH": str(empty)}},
        "own_java_options": {"conf": {"spark.driver.extraJavaOptions": own}},
        "unwritable_cache": {"cache": str(blocker / "cache")},
    }
    out = subprocess.run(
        [sys.executable, "-c", FALLBACKS.format(repo=REPO, cache=str(cache)),
         json.dumps(cases)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    today = got.pop("today")
    assert "SPARK_CONF_DIR" not in today["env_changed"]
    assert not any("Archive" in a for a in today["args"])
    for name, run in got.items():
        args = run["args"]
        if name == "own_java_options":
            assert own in args
            args = [a for a in args if a != own]
        assert args == today["args"], name
        assert run["env_changed"] == today["env_changed"], name
    assert got["spark_defaults"]["marker"] == "7"
    assert not cache.exists() or _cache_files(cache) == []


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """The cache decision as a process without a JVM sees it, over an
    empty cache in ``tmp_path``."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "JVM_CACHE", str(tmp_path / "cache"))
    for name in session._FALLBACK_ENV + ("SPARK_CONF_DIR",):
        monkeypatch.delenv(name, raising=False)
    return tmp_path / "cache"


def test_a_miss_plans_a_dump_and_a_hit_maps_the_archive(no_jvm):
    flag, (tmp, archive) = session._archive_options("48g", {})
    assert flag == f"-XX:ArchiveClassesAtExit={tmp}"
    assert tmp == str(no_jvm / f"{os.path.basename(archive)[:-4]}.{os.getpid()}.tmp")
    open(archive, "wb").close()
    assert session._archive_options("48g", {}) == (
        f"-XX:SharedArchiveFile={archive}", None)


def test_the_key_covers_heap_size_and_environment_jvm_flags(no_jvm, monkeypatch):
    """Of the heap size only compressed oops on or off splits the key
    (512m, 1g and 31g share one, 48g has another).  Environment JVM
    flags split it, and so does the cache's own path: the dumped
    classpath names the cache's conf/ absolutely, so a moved or copied
    checkout needs an archive of its own."""
    def key(memory="48g"):
        flag, dump = session._archive_options(memory, {})
        return os.path.basename(dump[1])

    base = key()
    assert key("512m") == key("1g") == key("31g") == key("1024") != base
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-Dx=1")
    assert key() != base
    monkeypatch.delenv("JAVA_TOOL_OPTIONS")
    monkeypatch.setattr(session, "JVM_CACHE", str(no_jvm.parent / "moved"))
    assert key() != base


@pytest.mark.parametrize("env", [
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT",
])
def test_classpath_and_gateway_env_fall_back(no_jvm, monkeypatch, env):
    monkeypatch.setenv(env, "x")
    assert session._archive_options("48g", {}) is None


def test_a_real_conf_file_falls_back_and_templates_do_not(no_jvm, monkeypatch):
    conf = no_jvm.parent / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session._archive_options("48g", {}) is not None
    (conf / "log4j2.properties").write_text("")
    assert session._archive_options("48g", {}) is None


def test_settling_promotes_only_a_zero_exit(no_jvm, monkeypatch):
    """A dump is renamed to its archive when its JVM exited 0 and
    deleted otherwise; a running JVM's dump is left until it exits."""
    no_jvm.mkdir()

    class Proc:
        def __init__(self, code):
            self.returncode = code

        def poll(self):
            return self.returncode

    dumps = []
    for name, code in (("ok", 0), ("failed", 1), ("killed", -9), ("running", None)):
        tmp = no_jvm / f"{name}.1.tmp"
        tmp.write_bytes(b"dump")
        dumps.append((Proc(code), str(tmp), str(no_jvm / f"{name}.jsa")))
    monkeypatch.setattr(session, "_dumps", list(dumps))
    session._settle_dumps(wait=False)
    assert _cache_files(no_jvm) == ["ok.jsa", "running.1.tmp"]
    assert [entry[1] for entry in session._dumps] == [str(no_jvm / "running.1.tmp")]


def test_eviction_keeps_the_most_recently_used_archives(no_jvm):
    no_jvm.mkdir()
    for age in range(6):
        path = no_jvm / f"a{age}.jsa"
        path.write_bytes(b"")
        os.utime(path, (1000 - age, 1000 - age))
    session._evict_archives()
    assert _cache_files(no_jvm) == ["a0.jsa", "a1.jsa", "a2.jsa", "a3.jsa"]


def test_orphaned_dumps_of_dead_processes_are_dropped(no_jvm):
    no_jvm.mkdir()
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True).stdout.strip()
    (no_jvm / f"k.{dead}.tmp").write_bytes(b"")
    (no_jvm / f"k.{os.getpid()}.tmp").write_bytes(b"")
    session._drop_orphaned_dumps()
    assert _cache_files(no_jvm) == [f"k.{os.getpid()}.tmp"]


def test_java_options_keep_a_path_with_spaces_one_option():
    assert session._java_option("-XX:SharedArchiveFile=/a b/c'd.jsa") == (
        "-XX:SharedArchiveFile=/a\\ b/c\\'d.jsa")
