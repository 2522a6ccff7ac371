"""SparkSession factory with the engine's tuned defaults.

The reference's equivalent "session" is its mutable ``Config`` singleton
pair (``globals.py:55-56``) plus a ProcessPoolExecutor
(``ui/gradio_process.py:91-93``); here all knobs are explicit Spark conf
— no mutable global state crosses the driver/executor boundary.
"""

from __future__ import annotations

import os

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


def get_spark(
    cores: int | str | None = None,
    app_name: str = "parserpdf_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local session.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` then 32.  On a real
    cluster the same conf applies minus ``master`` (spark-submit sets it).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cores = str(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores) if cores.isdigit() else 32, 8)

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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # each file counts 256 KB toward a split, and no split is planned
        # smaller than that: MB-sized tables still cut into
        # spark.default.parallelism splits, where the 4 MB default would
        # plan fewer.  Past 128 MB a table's files set the splits
        .config("spark.sql.files.openCostInBytes", "262144")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
