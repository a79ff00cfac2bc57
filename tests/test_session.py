"""Session-layer wiring: the checkpoint file manager, the Python worker
daemon (``history_collector_spark.pyworker``), the workers' import path
and the ``file://`` filesystem (``jvm/NioLocalFileSystem.java``)."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap
import threading

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from history_collector_spark import session
from history_collector_spark.session import CHECKPOINT_FILE_MANAGER, NIO_FS_CLASS

PYWORKER_FILE = os.path.join(ROOT, "history_collector_spark", "pyworker.py")

# Runs in a child interpreter, so the pytest process keeps the stdlib
# zipimport. Prints the archive reads seen by each invalidation round.
_ZIP_PROBE = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport
    root, zpath = sys.argv[1:3]
    sys.path.insert(0, root)
    from history_collector_spark import pyworker

    def build(names):
        with zipfile.ZipFile(zpath, "w") as z:
            for n in names:
                z.writestr(n, "X = 1\\n")

    build(["a.py", "pkg/__init__.py", "pkg/sub/__init__.py", "pkg/sub/m.py"])
    sys.path.insert(0, zpath)
    import a, pkg.sub.m

    reads = []
    stdlib_read = zipimport._read_directory
    def counting_read(archive):
        reads.append(archive)
        return stdlib_read(archive)
    zipimport._read_directory = counting_read

    def round_reads():
        del reads[:]
        importlib.invalidate_caches()
        return reads.count(zpath)

    out = {"importers": sum(
        isinstance(v, zipimport.zipimporter) and v.archive == zpath
        for v in sys.path_importer_cache.values()
    )}
    out["stdlib"] = round_reads()
    pyworker.install()
    pyworker.install()
    patched = zipimport.zipimporter.invalidate_caches
    out["patched"] = patched is pyworker._invalidate_caches
    out["unchanged"] = [round_reads(), round_reads()]
    st = os.stat(zpath)
    build(["a.py", "b.py", "pkg/__init__.py", "pkg/sub/__init__.py", "pkg/sub/m.py"])
    os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    out["rewritten"] = round_reads()
    import b
    out["b"] = b.X
    print(json.dumps(out))
    """
)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zip archives lazily"
)
def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    res = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, ROOT, str(tmp_path / "mods.zip")],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    out = json.loads(res.stdout)
    # the stdlib reads the archive once per importer; there are several
    assert out["importers"] > 1
    assert out["stdlib"] == out["importers"]
    assert out["patched"]
    # patched: at most one read per archive, none while it is unchanged
    assert out["unchanged"][0] <= 1
    assert out["unchanged"][1] == 0
    # a rewrite (new size and mtime) is seen, and its new module imports
    assert out["rewritten"] == 1
    assert out["b"] == 1


def test_python_tasks_run_in_engine_worker_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for b in batches:
            yield pd.DataFrame({"file": [code.co_filename] * len(b)})

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, "file string").collect()
    files = {r.file for r in rows}
    if sys.version_info >= (3, 13):
        assert PYWORKER_FILE not in files
    else:
        assert files == {PYWORKER_FILE}


def test_checkpoints_use_filesystem_manager(spark):
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == CHECKPOINT_FILE_MANAGER
        == "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


# Runs a package UDF (the archive decode's mapInPandas) with sys.path
# patched only in the driver.
_UDF_PROBE = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from history_collector_spark.session import get_spark
    from history_collector_spark.sources.xdr import read_archive, write_archive_file

    op = {"type": 1, "destination": "D1", "amount": 5, "starting_balance": None,
          "asset": {"assetCode": "KIN", "issuer": "ISS0"}, "sourceAccount": []}
    tx = {"hash": "h62", "fee": 100, "memo": "1-abcd-42", "source": "S1",
          "operations": [op]}
    write_archive_file("landing", "0000003f", [{"ledger_seq": 62, "txs": [tx]}])
    spark = get_spark(app_name="any-cwd-probe", cpus=1)
    print("ROWS", read_archive(spark, "landing").count())
    spark.stop()
    """
)


def test_package_udf_runs_from_any_working_directory(tmp_path):
    env = dict(os.environ, PYTHONPATH="", SPARK_DRIVER_MEMORY="1g")
    env.pop("SPARK_MASTER", None)
    res = subprocess.run(
        [sys.executable, "-c", _UDF_PROBE, ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "ROWS 1" in res.stdout.splitlines()


# -- file:// through NioLocalFileSystem -----------------------------------------


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )


def test_local_filesystem_is_nio(spark):
    fs = _local_fs(spark)
    assert fs.getClass().getName() == NIO_FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == NIO_FS_CLASS + "$Raw"


def test_partitioned_write_keeps_checksums(spark, tmp_path):
    out = str(tmp_path / "out")
    spark.range(25).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(
        out
    )
    parts = glob.glob(os.path.join(out, "k=*", "part-*"))
    assert len(parts) >= 3
    for p in parts:
        head, name = os.path.split(p)
        assert os.path.isfile(os.path.join(head, f".{name}.crc")), p
    assert spark.read.parquet(out).count() == 25


@pytest.mark.parametrize("umask", ["022", "077", "002"])
def test_modes_match_stock_filesystem(spark, tmp_path, umask):
    """Dirs and files made by ``mkdirs``, ``create`` and explicit
    ``setPermission`` get the mode bits a plain ``RawLocalFileSystem``
    (which forks ``chmod``) gives them under the same umask; a sticky
    mode goes through the stock path."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.permissions.umask-mode", umask)
    uri = jvm.java.net.URI("file:///")
    nio = hfs.FileSystem.newInstance(uri, conf)
    assert nio.getClass().getName() == NIO_FS_CLASS
    stock = hfs.RawLocalFileSystem()
    stock.initialize(uri, conf)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    def make(fs, root):
        base = hfs.Path(str(root))
        fs.mkdirs(hfs.Path(base, "d/e"), perm("777"))
        fs.create(hfs.Path(base, "d/f")).close()
        for name, mode in [("x", "750"), ("y", "640"), ("z", "1777"), ("w", "000")]:
            fs.mkdirs(hfs.Path(base, name))
            fs.setPermission(hfs.Path(base, name), perm(mode))

    def modes(root):
        return {
            os.path.relpath(os.path.join(d, n), root): os.stat(
                os.path.join(d, n)
            ).st_mode
            & 0o7777
            for d, dirs, files in os.walk(root)
            for n in dirs + files
            if not n.endswith(".crc")
        }

    try:
        make(nio, tmp_path / "nio")
        make(stock, tmp_path / "stock")
        got, want = modes(tmp_path / "nio"), modes(tmp_path / "stock")
    finally:
        for root in ("nio", "stock"):  # "w" (mode 0) blocks nothing for root
            for d, _, _ in os.walk(tmp_path / root):
                os.chmod(d, 0o755)
        nio.close()
        stock.close()
    assert set(got) == {"d", "d/e", "d/f", "x", "y", "z", "w"}
    assert got == want
    assert got["x"] == 0o750 and got["z"] == 0o1777 and got["w"] == 0


def test_rename_keeps_proxy_local_rule(spark, tmp_path):
    """The rule of Hive's ProxyLocalFileSystem, which served file:// before:
    a rename onto an existing file is refused and changes nothing; a rename
    to a new name, of a file or of a dir, goes through."""
    hfs = spark._jvm.org.apache.hadoop.fs
    fs = _local_fs(spark)

    def path(name):
        return hfs.Path(str(tmp_path / name))

    (tmp_path / "a").write_text("A")
    (tmp_path / "b").write_text("B")
    assert fs.rename(path("a"), path("b")) is False
    assert (tmp_path / "a").read_text() == "A"
    assert (tmp_path / "b").read_text() == "B"
    assert fs.rename(path("a"), path("c")) is True
    assert (tmp_path / "c").read_text() == "A" and not (tmp_path / "a").exists()
    (tmp_path / "d1").mkdir()
    (tmp_path / "d1" / "f").write_text("F")
    assert fs.rename(path("d1"), path("d2")) is True
    assert (tmp_path / "d2" / "f").read_text() == "F"


# Launches a session in a fresh JVM with javac hidden and an empty class
# cache: it must come up on the stock filesystem with one warning.
_NO_JAVAC_PROBE = textwrap.dedent(
    """
    import logging, shutil, sys
    root, cache, out = sys.argv[1:4]
    sys.path.insert(0, root)
    from history_collector_spark import session

    which = shutil.which
    shutil.which = lambda cmd, *a, **k: None if cmd == "javac" else which(cmd, *a, **k)
    session.CLASS_CACHE = cache
    warnings = []
    handler = logging.Handler(logging.WARNING)
    handler.emit = lambda record: warnings.append(record.getMessage())
    logging.getLogger("history_collector_spark").addHandler(handler)

    spark = session.get_spark(app_name="no-javac-probe", cpus=1)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
    spark.range(5).write.parquet(out)
    print("ROWS", spark.read.parquet(out).count())
    print("FS", fs.getClass().getName())
    print("IMPL", spark.conf.get("spark.hadoop.fs.file.impl", "unset"))
    print("WARNINGS", len(warnings), warnings)
    spark.stop()
    """
)


def test_no_javac_falls_back_to_stock_filesystem(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env.pop("SPARK_MASTER", None)
    args = [ROOT, str(tmp_path / "cache"), str(tmp_path / "out")]
    res = subprocess.run(
        [sys.executable, "-c", _NO_JAVAC_PROBE, *args],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.splitlines()
    assert "ROWS 5" in lines
    fs = next(line.split()[1] for line in lines if line.startswith("FS "))
    assert fs != NIO_FS_CLASS
    assert "IMPL unset" in lines
    warned = next(line for line in lines if line.startswith("WARNINGS "))
    assert warned.startswith("WARNINGS 1 ") and "javac" in warned
    assert not glob.glob(str(tmp_path / "cache" / "*"))


@pytest.fixture
def source_copy(tmp_path, monkeypatch):
    """The Java source copied to a temp dir, with an empty class cache."""
    src = tmp_path / "NioLocalFileSystem.java"
    shutil.copy(session.NIO_FS_SOURCE, src)
    monkeypatch.setattr(session, "NIO_FS_SOURCE", str(src))
    monkeypatch.setattr(session, "CLASS_CACHE", str(tmp_path / "cache"))
    return src


def _class_files(classes):
    return sorted(
        os.path.relpath(p, classes)
        for p in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)
    )


def test_class_cache_is_keyed_by_source_and_reused(source_copy, monkeypatch):
    key = session.nio_fs_cache_key()
    classes = session.nio_fs_classes()
    assert os.path.basename(classes) == key
    assert key.endswith("-" + os.path.basename(session._hadoop_api_jar())[:-4])
    assert _class_files(classes) == [
        "history_collector_spark/jvm/NioLocalFileSystem$Raw.class",
        "history_collector_spark/jvm/NioLocalFileSystem.class",
    ]
    # unchanged source: the same dir, and javac does not run
    def no_javac(*a, **k):
        raise AssertionError("javac ran for an unchanged source")

    monkeypatch.setattr(session.subprocess, "run", no_javac)
    assert session.nio_fs_classes() == classes
    # one byte changed: a new key
    text = source_copy.read_bytes()
    i = text.index(b"engine")
    source_copy.write_bytes(text[:i] + b"E" + text[i + 1 :])
    assert session.nio_fs_cache_key() != key


def test_concurrent_builds_share_one_class_dir(source_copy):
    results, errors = [], []

    def build():
        try:
            results.append(session.nio_fs_classes())
        except Exception as e:  # re-raised below through the assertion
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(results) == 3 and len(set(results)) == 1
    # no half-built dir is left beside the finished one
    assert os.listdir(session.CLASS_CACHE) == [os.path.basename(results[0])]
    assert len(_class_files(results[0])) == 2


def test_java_source_compiles_without_lint_warnings(tmp_path):
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac")
    res = subprocess.run(
        [javac, "-Xlint:all", "-Werror", "-cp", session._hadoop_api_jar()]
        + ["-d", str(tmp_path), session.NIO_FS_SOURCE],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stderr == ""
