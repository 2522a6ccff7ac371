"""SparkSession factory with the engine's tuned defaults.

The reference's equivalent "session" is its mutable ``Config`` singleton
pair (``globals.py:55-56``) plus a ProcessPoolExecutor
(``ui/gradio_process.py:91-93``); here all knobs are explicit Spark conf
— no mutable global state crosses the driver/executor boundary.

A process that starts the driver JVM starts it from a class-data-sharing
(CDS) archive of the classes a Spark driver loads, which halves JVM
start-up.  The first launch per key dumps the archive as its JVM exits;
every later one maps it (see :func:`_archive_options`).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess

from pyspark.sql import SparkSession

# Arrow batch size bounds per-batch memory for giant documents
# (SURVEY.md §7.4-3) while amortizing the JVM↔Python IPC boundary;
# 2048 docs/batch measured ~15% faster than 512 and still keeps a
# median corpus batch ~10 MB.  Lower it for corpora with many
# 10^5-span giants.
ARROW_MAX_RECORDS = 2048

# the worker daemon (_daemon.py) imports the package, so its root goes on
# the workers' path whatever the driver's cwd (``python -m`` adds the cwd)
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# CDS archives of the driver JVM, one per key, next to the package as
# __pycache__ is; deleting the directory clears them
JVM_CACHE = os.path.join(PACKAGE_ROOT, ".jvm-cache")
JVM_CACHE_KEEP = 4  # archives kept, the least recently used removed first
# a dump writes 140-195 MB as its JVM exits, ~15-20 s on 4 vCPUs
DUMP_WAIT_S = 120
# the JVM logs CDS warnings, and a failed dump its exit message, on its
# stdout, where a job prints its report
_CDS_QUIET = "-Xlog:cds*=off -XX:+DisplayVMOutputToStderr"
# what adds to the driver's classpath or flags past the key's reach, or
# says the JVM runs already: such launches start without an archive
_FALLBACK_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                 "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")
_FALLBACK_CONF = ("spark.driver.extraJavaOptions",
                  "spark.driver.defaultJavaOptions",
                  "spark.driver.extraClassPath")
# JVM flags that come from the environment, part of the key
_JVM_FLAG_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
                 "SPARK_SUBMIT_OPTS")
# (JVM process, dump file, archive) of this process's dumping JVMs
_dumps: list = []


def get_spark(
    cores: int | str | None = None,
    app_name: str = "parserpdf_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local session.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` then 32.  On a real
    cluster the same conf applies minus ``master`` (spark-submit sets it).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cores = str(cores)
    shuffle_partitions = max(int(cores) if cores.isdigit() else 32, 8)
    driver_memory = os.environ.get("SPARK_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        # workers fork with pyspark's bytecode and the zip guard loaded
        .config("spark.python.daemon.module", "parserpdf_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # each file counts 256 KB toward a split, and no split is planned
        # smaller than that: MB-sized tables still cut into
        # spark.default.parallelism splits, where the 4 MB default would
        # plan fewer.  Past 128 MB a table's files set the splits
        .config("spark.sql.files.openCostInBytes", "262144")
    )
    conf = extra_conf or {}
    for key, value in conf.items():
        builder = builder.config(key, value)
    options = _archive_options(conf.get("spark.driver.memory", driver_memory), conf)
    if options is None:
        spark = builder.getOrCreate()
    else:
        spark = _launch(builder, *options)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _launch(builder, flag: str, dump: tuple | None) -> SparkSession:
    """Start the driver JVM with the CDS ``flag``, its classpath's conf
    directory swapped for the cache's empty one for the launch alone.

    A damaged archive (truncated after its promotion) kills the JVM that
    maps it with SIGBUS before its gateway comes up; that archive is
    deleted and the JVM started once more as without the cache."""
    from pyspark import SparkContext
    from pyspark.errors import PySparkRuntimeError

    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(JVM_CACHE, "conf")
    try:
        return builder.config(
            "spark.driver.extraJavaOptions", f"{_java_option(flag)} {_CDS_QUIET}"
        ).getOrCreate()
    except PySparkRuntimeError as exc:
        if dump is not None or exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
        if dump is not None:
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                _dumps.append((proc, *dump))
            else:  # the JVM exited before its gateway came up
                with contextlib.suppress(FileNotFoundError):
                    os.remove(dump[0])
    with contextlib.suppress(FileNotFoundError):
        os.remove(flag.partition("=")[2])
    del builder._options["spark.driver.extraJavaOptions"]
    return builder.getOrCreate()


def _archive_options(driver_memory: str, conf: dict) -> tuple | None:
    """(JVM flag, dump) for a launch from the archive cache, or None to
    start the JVM as without one.

    The flag maps ``<key>.jsa`` when it exists (dump is None); otherwise
    it dumps ``<key>.<pid>.tmp`` as the JVM exits, and dump is (tmp,
    archive) for :func:`_settle_dumps`, which renames the tmp file to the
    archive only once its JVM exited 0: a truncated archive crashes the
    JVM that maps it, it is no fallback.  CDS refuses a non-empty
    directory on the classpath, and Spark puts its conf directory there,
    so a launch that would hide a real file in it starts without an
    archive.  So does one whose cache is not writable, and one that runs
    while a JVM of this process runs already.
    """
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if (SparkContext._gateway is not None
            or any(os.environ.get(name) for name in _FALLBACK_ENV)
            or any(name in conf for name in _FALLBACK_CONF)):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(
            name.endswith(".template") for name in os.listdir(conf_dir)):
        return None
    # the java that bin/spark-class runs
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    try:
        os.makedirs(os.path.join(JVM_CACHE, "conf"), exist_ok=True)
    except OSError:
        return None
    if not os.access(JVM_CACHE, os.W_OK | os.X_OK):
        return None

    _settle_dumps(wait=False)
    key = _archive_key(java, spark_home, driver_memory)
    archive = os.path.join(JVM_CACHE, f"{key}.jsa")
    with contextlib.suppress(FileNotFoundError):
        os.utime(archive)  # the least recently used goes first
        return f"-XX:SharedArchiveFile={archive}", None
    tmp = os.path.join(JVM_CACHE, f"{key}.{os.getpid()}.tmp")
    if any(entry[1] == tmp for entry in _dumps):
        return None  # this process's earlier JVM is still dumping there
    _drop_orphaned_dumps()
    return f"-XX:ArchiveClassesAtExit={tmp}", (tmp, archive)


def _archive_key(java: str, spark_home: str, driver_memory: str) -> str:
    """Hash of what an archive depends on: the java binary, the pyspark
    version, the launch classpath (the cache's ``conf/`` and Spark's
    jars, by absolute path, and the jars' names, sizes and mtimes) and
    the driver's JVM flags.  Of the heap size only whether compressed
    oops are on counts (see :func:`_compressed_oops`)."""
    import pyspark

    st = os.stat(java)
    jars = os.path.join(spark_home, "jars")
    parts = [os.path.realpath(java), st.st_size, st.st_mtime_ns,
             pyspark.__version__, _compressed_oops(driver_memory),
             os.path.abspath(os.path.join(JVM_CACHE, "conf")), os.path.abspath(jars),
             *(os.environ.get(name, "") for name in _JVM_FLAG_ENV)]
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        st = entry.stat()
        parts += [entry.name, st.st_size, st.st_mtime_ns]
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:20]


def _compressed_oops(driver_memory: str) -> bool | str:
    """Whether a JVM with ``driver_memory`` (a Spark size string, MiB
    when unitless) of heap runs with compressed oops: an archive maps
    under any heap on the same side of the ~32 GiB line (one dumped at
    1g maps from 512m to 31g and is refused from 32g).  A heap within a
    few MB below 32g may land on the wrong side; its JVM then maps only
    the JDK's own archive, as any mismatch does, and does not crash.  A
    string this does not parse counts as itself."""
    m = re.fullmatch(r"(\d+)([bkmgtp]?)b?", driver_memory.strip().lower())
    if m is None:
        return driver_memory
    shift = {"b": 0, "k": 10, "": 20, "m": 20, "g": 30, "t": 40, "p": 50}
    return int(m.group(1)) << shift[m.group(2)] < 32 << 30


def _java_option(value: str) -> str:
    """``value`` as one option of Spark's extraJavaOptions string."""
    return re.sub(r"""([\\'"\s])""", r"\\\1", value)


def _settle_dumps(wait: bool = True) -> None:
    """Rename each dump of this process whose JVM exited 0 to its
    archive, and delete every other one.  With ``wait``, close each
    running JVM's stdin (the JVM exits when it closes) and wait for it;
    without, leave the running ones be.  Runs at interpreter exit."""
    for entry in list(_dumps):
        proc, tmp, archive = entry
        if proc.poll() is None:
            if not wait:
                continue
            proc.stdin.close()
            try:
                proc.wait(timeout=DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _dumps.remove(entry)
        with contextlib.suppress(FileNotFoundError):
            if proc.returncode == 0:
                os.replace(tmp, archive)
                _evict_archives()
            else:
                os.remove(tmp)


atexit.register(_settle_dumps)


def _evict_archives() -> None:
    """Keep the ``JVM_CACHE_KEEP`` most recently used archives (another
    process may remove one meanwhile; its next promotion evicts again)."""
    with contextlib.suppress(FileNotFoundError):
        archives = sorted(
            (e for e in os.scandir(JVM_CACHE) if e.name.endswith(".jsa")),
            key=lambda e: e.stat().st_mtime_ns, reverse=True)
        for entry in archives[JVM_CACHE_KEEP:]:
            os.remove(entry.path)


def _drop_orphaned_dumps() -> None:
    """Delete dump files whose process is gone without settling them
    (killed before its exit hook ran)."""
    for entry in os.scandir(JVM_CACHE):
        pid = entry.name.split(".")[1] if entry.name.endswith(".tmp") else ""
        if pid.isdigit() and not _alive(int(pid)):
            with contextlib.suppress(FileNotFoundError):
                os.remove(entry.path)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True
