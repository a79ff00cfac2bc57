"""Query scratch files have one home: ``history_collector_spark/scratch.py``.

Fixtures are memoized per (session, builder, args) and written under the
session's ``SparkFiles`` root, never found again by a name in the shared
temp dir.
"""

from __future__ import annotations

import glob
import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from history_collector_spark import registry
from tests.conftest import TEST_SF_DIR
from tests.oracle_compare import assert_frames_match

registry.load_all()


@pytest.fixture(scope="module")
def half_corpus(tmp_path_factory):
    """The first half of TEST_SF_DIR's documents, in a dir that has the
    same basename as TEST_SF_DIR."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(TEST_SF_DIR, "documents.parquet"))
    sf = tmp_path_factory.mktemp("alt") / os.path.basename(
        os.path.normpath(TEST_SF_DIR)
    )
    sf.mkdir()
    pq.write_table(docs.slice(0, docs.num_rows // 2), sf / "documents.parquet")
    return str(sf)


@pytest.mark.parametrize("name", ["corpus_jsonl_ingest", "corpus_lz4_ingest"])
def test_corpora_sharing_a_basename_get_their_own_fixture(spark, half_corpus, name):
    """Each corpus is answered from its own documents, whichever ran first."""
    for sf in (TEST_SF_DIR, half_corpus):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(sf, 'documents.parquet')}'"
        )
        assert_frames_match(
            registry.QUERIES[name](spark, sf).toPandas(),
            con.sql(registry.ORACLES[name]).df(),
            name=f"{name}@{sf}",
        )
        con.close()


_SCRATCH_OWNERS = {
    "scratch.py",  # scratch_dir / per_session
    os.path.join("streaming", "conf.py"),  # the drain checkpoint deletes itself
    "session.py",  # the javac class cache
}
_SCRATCH_MARKERS = re.compile(r"\bmkdtemp\b|\bgettempdir\b")


def test_one_scratch_home():
    """Temp dirs are made in the scratch module only: an ``mkdtemp`` or
    ``gettempdir`` anywhere else in the package is a file that outlives
    its session, or a fixture found again by name."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "history_collector_spark",
    )
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel in _SCRATCH_OWNERS:
            continue
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                if _SCRATCH_MARKERS.search(line):
                    offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
