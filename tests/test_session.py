"""Session-layer wiring: the checkpoint file manager, the Python worker
daemon (``history_collector_spark.pyworker``) and the workers' import
path."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from history_collector_spark.session import CHECKPOINT_FILE_MANAGER

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
