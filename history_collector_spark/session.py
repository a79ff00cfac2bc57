"""SparkSession factory.

One shared session per process (the reference keeps one Postgres connection
for its whole lifetime, python/main.py:254-309; we keep one SparkSession).
Local-mode settings are tuned for the test harness (local[N], AQE on,
shuffle partitions sized to cores, Arrow for the pandas paths); on a real
cluster the same code runs unchanged — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding ``history_collector_spark``.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "history-collector-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Scale posture: AQE owns runtime re-planning (partition coalescing and
    skew-join splitting), broadcast threshold stays at the default so
    dimension tables (region/nation/customer-sized sides, SURVEY §2.3
    J1/J2) go broadcast-hash automatically.

    Two settings cut the fixed cost every micro-batch and Python task
    pays on a local runtime (measured on 4 cores, no native Hadoop
    library):

    - ``spark.sql.streaming.checkpointFileManagerClass`` is
      ``FileSystemBasedCheckpointFileManager``. Every trigger writes
      offset, commit and state-delta files through it. Without the
      native library the default ``FileContextBasedCheckpointFileManager``
      forks about 20 shell commands (``readlink``, ``chmod``) per file
      and takes about 44 ms; this one forks 4 and takes about 14 ms. It does
      the same temp-file-then-rename ``createAtomic`` through the
      ``FileSystem`` API, and that rename is atomic on local disk and
      HDFS, so offsets, commits and state keep their exactly-once
      guarantees. On a store whose rename is not atomic, such as S3,
      neither manager is safe.
    - ``spark.python.daemon.module`` is ``history_collector_spark.pyworker``,
      which stops each Python task from re-reading ``pyspark.zip`` 16
      times on CPython < 3.13: task set-up goes from 140-250 ms to under
      1 ms. Workers import this package through
      ``spark.executorEnv.PYTHONPATH``, which gets the package root put
      in front of any value passed in ``extra_conf``, so they find it
      from any working directory. That root is the driver's path: on a
      cluster the package must be importable where executors start
      Python (installed, or on their ``PYTHONPATH``), since the daemon
      starts before a task adds its ``--py-files`` to ``sys.path``.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # nanosAsLong is deliberately NOT set here: every events read that
        # needs it sets it scoped at the read site (catalog.table, the
        # streaming readers) — no hidden global state.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER
        )
        .config("spark.python.daemon.module", "history_collector_spark.pyworker")
    )
    # Only pin a master when launched directly (tests/bench). Under
    # spark-submit the master comes from --master/spark-defaults.conf.
    if os.environ.get("SPARK_MASTER"):
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cpus}]")
    extra_conf = dict(extra_conf or {})
    worker_path = filter(None, [PACKAGE_ROOT, extra_conf.pop(WORKER_PYTHONPATH, "")])
    builder = builder.config(WORKER_PYTHONPATH, os.pathsep.join(worker_path))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
