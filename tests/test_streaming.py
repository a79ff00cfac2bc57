"""Streaming ingest tests — §2.7: backfill with AvailableNow,
checkpoint resume after restart (python/main.py:246-249 semantics),
watermarked dedup."""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys
import tempfile
import textwrap

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from history_collector_spark.sinks.exactly_once import ExactlyOnceDualSink
from history_collector_spark.sources.xdr import write_archive_file
from history_collector_spark.streaming.ingest import (
    start_ingest,
    watermarked_event_dedup,
)


def _entries(base: int, n_txs: int = 2) -> list[dict]:
    return [
        {
            "ledger_seq": base,
            "txs": [
                {
                    "hash": f"h{base}-{i}",
                    "fee": 10,
                    "memo": "1-abcd-1",
                    "source": "S",
                    "operations": [
                        {
                            "type": i % 2,
                            "destination": "D",
                            "amount": 5,
                            "starting_balance": 7,
                            "asset": {"assetCode": "KIN", "issuer": "ISS0"},
                            "sourceAccount": [],
                        }
                    ],
                }
                for i in range(n_txs)
            ],
        }
    ]


def _flatten(entries):
    txs = entries.select("ledger_seq", F.explode("txs").alias("tx"))
    ops = txs.select(
        "ledger_seq",
        F.col("tx.hash").alias("hash"),
        F.explode("tx.operations").alias("op"),
    )
    return ops.select(
        F.when(F.col("op.type") == 1, "payment").otherwise("creation").alias("type"),
        "ledger_seq",
        "hash",
        F.col("op.destination").alias("destination"),
        F.col("op.amount").alias("amount"),
    )


def test_ingest_backfill_and_resume(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    sink = ExactlyOnceDualSink(out)

    write_archive_file(landing, "0000003f", _entries(63))
    write_archive_file(landing, "0000007f", _entries(127))

    q = start_ingest(spark, landing, ckpt, sink, transform=_flatten)
    q.awaitTermination(120)
    assert sink.last_committed() is not None
    total1 = spark.read.parquet(sink.payments_dir).count() + spark.read.parquet(
        sink.creations_dir
    ).count()
    assert total1 == 4  # 2 files x 2 txs x 1 op

    # restart with a new file: only the new file is processed
    write_archive_file(landing, "000000bf", _entries(191))
    q2 = start_ingest(spark, landing, ckpt, sink, transform=_flatten)
    q2.awaitTermination(120)
    total2 = spark.read.parquet(sink.payments_dir).count() + spark.read.parquet(
        sink.creations_dir
    ).count()
    assert total2 == 6  # +2, no reprocessing of old files


def test_watermarked_dedup(spark, tmp_path):
    src = str(tmp_path / "events")
    spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", "a"),
            ("2024-01-01 00:00:10", "a"),  # dup within watermark
            ("2024-01-01 00:05:00", "b"),
        ],
        "ts_s string, tx_hash string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "tx_hash").write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, tx_hash string").parquet(src)
    deduped = watermarked_event_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    got = {r["tx_hash"] for r in spark.sql("SELECT * FROM dedup_sink").collect()}
    assert got == {"a", "b"}
    assert spark.sql("SELECT count(*) n FROM dedup_sink").collect()[0]["n"] == 2


def _run_tracker(spark, src_dir, ckpt, out_dir):
    from history_collector_spark.streaming.stateful import track_gapless

    stream = spark.readStream.schema("stream_id string, seq long").json(src_dir)
    released = track_gapless(stream, start_seq=63)

    def sink(batch_df, epoch_id):
        if not batch_df.isEmpty():
            batch_df.write.mode("append").parquet(out_dir)

    q = (
        released.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(120)
    return [
        (r["seq"], r["status"])
        for r in spark.read.parquet(out_dir).orderBy("seq").collect()
    ]


def test_stateful_gapless_stalls_and_resumes(spark, tmp_path):
    """Stall-don't-skip as a stateful streaming operator: 191 arrives
    before 127 and must WAIT in state; when 127 lands (after a restart,
    so state round-trips the state store) both release in order."""
    src = str(tmp_path / "seqs")
    ckpt = str(tmp_path / "ckpt_state")
    os.makedirs(src, exist_ok=True)

    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write('{"stream_id": "s1", "seq": 63}\n{"stream_id": "s1", "seq": 191}\n')
    got1 = _run_tracker(spark, src, ckpt, str(tmp_path / "rel1"))
    assert got1 == [(63, "ok")]  # 191 buffered behind the 127 gap

    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write('{"stream_id": "s1", "seq": 127}\n{"stream_id": "s1", "seq": 63}\n')
    got2 = _run_tracker(spark, src, ckpt, str(tmp_path / "rel2"))
    # gap filled -> 127 and the buffered 191 release in order; the
    # replayed 63 is flagged, never re-released
    assert got2 == [(63, "duplicate"), (127, "ok"), (191, "ok")]


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """§2.7-f: event-time tumbling window + watermark over a stream."""
    src = str(tmp_path / "evts")
    spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "a"),
            ("2024-01-01 00:20:00", "b"),
            ("2024-01-01 01:05:00", "c"),
        ],
        "ts_s string, v string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "v").write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, v string").parquet(src)
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["w"]["start"].isoformat(), r["n"])
        for r in spark.sql("SELECT * FROM win_sink").collect()
    }
    assert rows == {("2024-01-01T00:00:00", 2), ("2024-01-01T01:00:00", 1)}


def test_failure_notifier_fires_on_stream_failure(spark, tmp_path):
    """§2.7-e: a failing stream reaches the listener's callback (the
    reference's email/Lambda alert, python/main.py:312-366)."""
    import time

    from history_collector_spark.streaming.stateful import track_gapless
    from history_collector_spark.streaming.ingest import FailureNotifier

    failures = []
    FailureNotifier(failures.append).attach(spark)

    src = str(tmp_path / "bad_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write('{"stream_id": "s1", "seq": 63}\n')

    stream = spark.readStream.schema("stream_id string, seq long").json(src)

    def exploding_sink(batch_df, epoch_id):
        raise RuntimeError("sink blew up")

    q = (
        stream.writeStream.foreachBatch(exploding_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_fail"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    except Exception:
        pass  # the failure is expected; we assert on the listener
    for _ in range(50):  # listener events are delivered asynchronously
        if failures:
            break
        time.sleep(0.2)
    assert failures and "sink blew up" in failures[0]


# -- the drain path (streaming/conf.py) ----------------------------------------


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _drain_checkpoints() -> set[str]:
    from history_collector_spark.streaming.conf import CHECKPOINT_PREFIX

    return set(glob.glob(os.path.join(tempfile.gettempdir(), CHECKPOINT_PREFIX + "*")))


@pytest.fixture
def odd_shuffle_partitions(spark):
    """A session shuffle-partition count no stream uses, so a drain
    that forgot to restore it is visible."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield "3"
    spark.conf.set(key, old)


@pytest.mark.parametrize(
    "name", ["streaming_window_counts", "streaming_upsert_e2e"]
)
def test_drain_leaves_nothing_behind(spark, odd_shuffle_partitions, name):
    """A memory-sink drain and a foreachBatch drain, run as registered
    queries: the result still collects, and no temp view, running
    query, changed conf or checkpoint dir outlives the call."""
    from history_collector_spark import registry
    from tests.conftest import TEST_SF_DIR

    registry.load_all()
    views, ckpts = _temp_views(spark), _drain_checkpoints()
    rows = registry.QUERIES[name](spark, TEST_SF_DIR).collect()
    assert rows
    assert _temp_views(spark) == views
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == odd_shuffle_partitions
    assert _drain_checkpoints() == ckpts


# Runs the z-score e2e twice in a session made for the test, then a
# memoized corpus fixture and two per-call scratch writers, then stops
# that session. Prints the memoized dirs and what is left of them.
_REPLAY_LIFETIME_PROBE = textwrap.dedent(
    """
    import glob, json, os, sys, tempfile
    root, sf_dir = sys.argv[1:3]
    sys.path.insert(0, root)
    from pyspark import SparkFiles
    from history_collector_spark import registry, scratch
    from history_collector_spark.session import get_spark

    def tmp_fixtures():
        return glob.glob(os.path.join(tempfile.gettempdir(), "hc_*"))

    tmp_before = tmp_fixtures()
    spark = get_spark(app_name="replay-lifetime-probe", cpus=2)
    registry.load_all()
    run = registry.QUERIES["streaming_zscore_e2e"]
    rows = len(run(spark, sf_dir).collect())
    first = sorted(scratch._memo.values())
    assert rows == len(run(spark, sf_dir).collect())
    out = {
        "rows": rows,
        "dirs": first,
        "warm_dirs": sorted(scratch._memo.values()),
    }
    for name in (
        "corpus_lz4_ingest", "streaming_upsert_e2e", "xdr_triplet_parity"
    ):
        assert registry.QUERIES[name](spark, sf_dir).collect(), name
    every = sorted(scratch._memo.values())
    out.update(
        all_dirs=every,
        files_root=SparkFiles.getRootDirectory(),
        existed=[os.path.isdir(d) for d in every],
    )
    spark.stop()
    out["left"] = [d for d in every if os.path.exists(d)]
    out["new_tmp"] = sorted(set(tmp_fixtures()) - set(tmp_before))
    print(json.dumps(out))
    """
)


def test_replay_fixtures_end_with_their_session(tmp_path):
    """The memoized replay feed is built once per session. It and every
    other scratch dir, memoized or per call, live under the session's
    SparkFiles root, and ``spark.stop()`` deletes them."""
    import json

    from tests.conftest import TEST_SF_DIR

    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", TMPDIR=str(tmp_path))
    env.pop("SPARK_MASTER", None)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _REPLAY_LIFETIME_PROBE, root, TEST_SF_DIR],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.splitlines()[-1])
    assert out["rows"] > 0
    assert len(out["dirs"]) == 1
    assert out["warm_dirs"] == out["dirs"]  # the warm run reused the feed
    assert out["new_tmp"] == []
    assert len(out["all_dirs"]) > 1  # the corpus fixture was memoized too
    assert all(out["existed"])
    for d in out["all_dirs"]:
        assert d.startswith(out["files_root"] + os.sep)
    assert out["left"] == []


def test_run_once_cleans_up_after_failing_batch(
    spark, odd_shuffle_partitions, tmp_path
):
    """A foreachBatch that raises: the error reaches the caller, and the
    query is stopped, the conf restored and the checkpoint deleted."""
    from history_collector_spark.streaming.conf import run_once

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)

    def exploding_batch(batch_df, epoch_id):
        raise RuntimeError("drain batch blew up")

    ckpts = _drain_checkpoints()
    with pytest.raises(Exception, match="drain batch blew up"):
        run_once(stream.writeStream.foreachBatch(exploding_batch))
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == odd_shuffle_partitions
    assert _drain_checkpoints() == ckpts


def test_drain_to_memory_result_outlives_its_view(spark, tmp_path):
    """The returned frame collects, self-joins and aggregates after the
    sink's temp view is gone; the output mode is honoured."""
    from history_collector_spark.streaming.conf import drain_to_memory

    src = str(tmp_path / "src")
    spark.range(10).withColumn("k", F.col("id") % 3).write.parquet(src)
    stream = spark.readStream.schema("id long, k long").parquet(src)
    views = _temp_views(spark)
    counts = drain_to_memory(stream.groupBy("k").count(), "complete")
    assert _temp_views(spark) == views
    assert sorted(tuple(r) for r in counts.collect()) == [(0, 4), (1, 3), (2, 3)]
    top = counts.agg(F.max("count").alias("m"))
    assert counts.join(top, counts["count"] == top["m"]).count() == 1


# -- events.ts: both on-disk vintages --------------------------------------------

# nanos that are not whole micros, so the floor to micros is exercised
_TS_NANOS = [
    1_700_000_000_123_456_789,
    1_700_003_600_000_000_999,
    86_400_000_000_001,
]


def _write_events(sf_dir: str, unit: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir)
    ts = [n if unit == "ns" else n // 1000 for n in _TS_NANOS]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(ts)), pa.int64()),
                "event_type": pa.array(["view"] * len(ts)),
                "ts": pa.array(ts, pa.timestamp(unit)),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )


@pytest.mark.parametrize(
    "unit, raw_type", [("ns", T.LongType()), ("us", T.TimestampNTZType())]
)
def test_events_ts_both_vintages(spark, tmp_path, unit, raw_type):
    """`timestamp[ns]` (read as nanos-long) and `timestamp[us]` (read as
    TIMESTAMP_NTZ) both come out as TimestampType with the same
    instants — from the batch catalog scan and from the file stream."""
    from history_collector_spark.catalog import table
    from history_collector_spark.queries.streaming_e2e import _events_stream
    from history_collector_spark.streaming.conf import drain_to_memory

    sf_dir = str(tmp_path / f"sf_{unit}")
    _write_events(sf_dir, unit)
    batch = table(spark, sf_dir, "events")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    assert raw.schema["ts"].dataType == raw_type
    stream = _events_stream(spark, sf_dir)
    assert batch.schema["ts"].dataType == T.TimestampType()
    assert stream.schema["ts"].dataType == T.TimestampType()

    def micros(df):
        return sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())

    want = sorted(n // 1000 for n in _TS_NANOS)
    assert micros(batch) == want
    assert micros(drain_to_memory(stream)) == want


# -- no second drain path ----------------------------------------------------------

_DRAIN_OWNERS = {
    os.path.join("streaming", "conf.py"),  # run_once / drain_to_memory
    os.path.join("streaming", "ingest.py"),  # the long-running start_ingest
}
_DRAIN_MARKERS = re.compile(
    r"""trigger\(\s*availableNow\s*=\s*True|format\(\s*["']memory["']"""
)


def test_one_drain_path():
    """Bounded streams drain through streaming/conf.py only: an
    availableNow trigger or a memory sink anywhere else in the package
    is a hand-rolled copy of run_once / drain_to_memory."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "history_collector_spark",
    )
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel in _DRAIN_OWNERS:
            continue
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                if _DRAIN_MARKERS.search(line):
                    offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
