"""SparkSession factory.

One shared session per process (the reference keeps one Postgres connection
for its whole lifetime, python/main.py:254-309; we keep one SparkSession).
Local-mode settings are tuned for the test harness (local[N], AQE on,
shuffle partitions sized to cores, Arrow for the pandas paths); on a real
cluster the same code runs unchanged — only master/memory change.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# The directory holding ``history_collector_spark``.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
DRIVER_CLASSPATH = "spark.driver.extraClassPath"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
JVM_DIR = os.path.join(PACKAGE_ROOT, "history_collector_spark", "jvm")
NIO_FS_SOURCE = os.path.join(JVM_DIR, "NioLocalFileSystem.java")
NIO_FS_CLASS = "history_collector_spark.jvm.NioLocalFileSystem"
# compiled classes, one subdirectory per cache key (gitignored)
CLASS_CACHE = os.path.join(JVM_DIR, ".classes")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _hadoop_api_jar() -> str:
    """pyspark's ``hadoop-client-api`` jar: the one jar the source needs."""
    pattern = os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"
    )
    jars = sorted(glob.glob(pattern))
    if not jars:
        raise FileNotFoundError(f"no jar matches {pattern}")
    return jars[-1]


def nio_fs_cache_key() -> str:
    """The SHA-256 of the Java source plus the name of the jar it is
    compiled against: a change to either builds a new class dir."""
    with open(NIO_FS_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    return f"{digest}-{os.path.basename(_hadoop_api_jar())[: -len('.jar')]}"


def nio_fs_classes() -> str:
    """The class dir of ``NioLocalFileSystem``, compiled with ``javac`` on
    first use. Classes are built in a temp dir and moved into place with
    one rename, so a concurrent session sees the whole dir or none.
    Raises ``OSError`` when ``javac`` is missing or fails, and
    ``subprocess.TimeoutExpired`` when it hangs."""
    out = os.path.join(CLASS_CACHE, nio_fs_cache_key())
    if os.path.isdir(out):
        return out
    javac = shutil.which("javac")
    if javac is None:
        raise FileNotFoundError("javac not found on PATH")
    os.makedirs(CLASS_CACHE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=CLASS_CACHE)
    try:
        # --release 17: the oldest JVM Spark 4 runs on can load the classes
        cmd = [javac, "--release", "17", "-cp", _hadoop_api_jar(), "-d", tmp]
        res = subprocess.run(
            cmd + [NIO_FS_SOURCE], capture_output=True, text=True, timeout=120
        )
        if res.returncode != 0:
            raise OSError(f"javac exited {res.returncode}: {res.stderr[-2000:]}")
        os.chmod(tmp, 0o755)  # mkdtemp's 0700 would hide it from other users
        try:
            os.replace(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else another session built it first
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


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

    Three settings cut the fixed cost every micro-batch, file write and
    Python task pays on a local runtime (measured on 4 cores, no native
    Hadoop library):

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
    - ``spark.hadoop.fs.file.impl`` is ``NioLocalFileSystem``
      (``jvm/NioLocalFileSystem.java``). Without the native library,
      ``RawLocalFileSystem.setPermission`` forks a ``chmod`` shell for
      every file and dir Hadoop writes: a 25-row ``partitionBy`` parquet
      write forked 92 processes and took about 236 ms; with ``java.nio``
      it forks none and takes about 195 ms. It is still a
      ``LocalFileSystem``, so ``.crc`` checksums are written and
      verified. Its ``rename`` keeps the rule of Hive's
      ``ProxyLocalFileSystem``, which ``hive-exec`` registers for
      ``file://`` and which served it before: a rename onto an existing
      file returns false and changes nothing. The checkpoint manager's
      ``createAtomic`` ends in a rename, so offset and commit files keep
      the behaviour they had. ``javac`` compiles the source against
      pyspark's ``hadoop-client-api`` jar once per checkout, into
      ``jvm/.classes/<source sha>-<jar name>`` (on
      ``spark.driver.extraClassPath``); a new source or jar builds a new
      dir. Only a session that launches a new local JVM gets it: a
      running JVM cannot take a new classpath, and cluster executors
      cannot see a driver-local dir (local executors share the driver's
      JVM). Without ``javac``, or when it fails, ``file://`` stays on
      the stock filesystem and one warning is logged.
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
    master = os.environ.get("SPARK_MASTER") or (
        None if os.environ.get("SPARK_SUBMIT_DEPLOY_MODE") else f"local[{cpus}]"
    )
    if master:
        builder = builder.master(master)
    extra_conf = dict(extra_conf or {})
    worker_path = filter(None, [PACKAGE_ROOT, extra_conf.pop(WORKER_PYTHONPATH, "")])
    builder = builder.config(WORKER_PYTHONPATH, os.pathsep.join(worker_path))
    # A JVM takes its classpath at launch, and cluster executors cannot
    # see a driver-local dir: only a new local JVM gets the NIO filesystem.
    launches_local_jvm = (
        (master or "").startswith("local")
        and SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    )
    if launches_local_jvm:
        try:
            classes = nio_fs_classes()
        except (OSError, subprocess.SubprocessError) as e:
            log.warning("file:// stays on the stock filesystem: %s", e)
        else:
            class_path = filter(None, [classes, extra_conf.pop(DRIVER_CLASSPATH, "")])
            builder = builder.config(DRIVER_CLASSPATH, os.pathsep.join(class_path))
            builder = builder.config("spark.hadoop.fs.file.impl", NIO_FS_CLASS)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
