"""Layer probes for traced runs: single calls into a layer the workload
itself does not drive, so every traced run reports every layer.

- sources: single-thread decode of generated triplets with the three
  ``xdr_codec`` parsers, and one ``sources.xdr.read_archive`` scan;
- sinks: one ``ExactlyOnceDualSink.write_batch`` of a static batch, then
  the same epoch again, which must be a no-op;
- registry and catalog: the first ``registry.load_all`` and the first
  ``catalog.table`` of each table in a session.
"""

from __future__ import annotations

import os
import time

import harness
from gen_archive import read_payloads, write_archive
from gen_tables import write_tables
from pipeline import TimedSink, kin_transform, sink_rows

PROBE_FILES = 8
PROBE_TXS_PER_LEDGER = 4


def _archive(run):
    return write_archive(
        os.path.join(run.run_dir, "probe-archive"),
        run.seed,
        PROBE_FILES,
        PROBE_TXS_PER_LEDGER,
    )


def sources(spark, run) -> dict[str, float]:
    from history_collector_spark.sources import xdr, xdr_codec

    arc = _archive(run)
    txs = read_payloads(arc.tx_files)
    ledgers = read_payloads(arc.ledger_files)
    results = read_payloads(arc.result_files)
    t0 = time.perf_counter()
    records = 0
    for data in txs:
        records += len(
            xdr_codec.parse_transactions(
                data, with_hash=True, network_passphrase=xdr.DEFAULT_NETWORK_PASSPHRASE
            )
        )
    for data in ledgers:
        records += len(xdr_codec.parse_ledgers(data))
    for data in results:
        records += len(xdr_codec.parse_results(data))
    decode_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    tx_dir = os.path.dirname(arc.tx_files[0])
    xdr.read_archive(spark, tx_dir).write.format("noop").mode("overwrite").save()
    return {
        "sources.decode_ops_per_s": records / decode_s,
        "sources.read_archive_s": time.perf_counter() - t0,
    }


def sinks(spark, run) -> dict[str, float]:
    from history_collector_spark.sinks.exactly_once import ExactlyOnceDualSink
    from history_collector_spark.sources import xdr

    arc = _archive(run)
    batch = kin_transform(xdr.read_archive(spark, os.path.dirname(arc.tx_files[0])))
    out = os.path.join(run.run_dir, "probe-sink")
    os.makedirs(out, exist_ok=True)
    sink = ExactlyOnceDualSink(out)
    window = harness.JobWindow(spark)
    timed = TimedSink(sink)
    timed(batch, 0)
    (counts,) = window.split_by_time(timed.windows)
    t0 = time.perf_counter()
    sink.write_batch(batch, 0)  # committed epoch: must write nothing
    replay_s = time.perf_counter() - t0
    rows = sink_rows(spark, sink)
    return {
        "sinks.write_batch_s": timed.write_s[0],
        "sinks.jobs_per_batch": float(counts.jobs),
        "sinks.rows_written": float(rows),
        "sinks.bytes_written": float(harness.dir_bytes(out)),
        "sinks.replay_s": replay_s,
    }


def registry_catalog(spark, run) -> dict[str, float]:
    from history_collector_spark import catalog, registry

    t0 = time.perf_counter()
    registry.load_all()
    load_all_s = time.perf_counter() - t0
    data = write_tables(os.path.join(run.run_dir, "probe-data"), run.seed, 0.001)
    t0 = time.perf_counter()
    for name in catalog.TABLES:
        catalog.table(spark, data, name)
    return {
        "registry.load_all_s": load_all_s,
        "catalog.table_cold_s": time.perf_counter() - t0,
    }
