"""The benchmark's workloads: the paper's archive ingest and the query canary.

Each workload function takes a ``Run`` (where to write, seed, duration,
tracing) and returns a ``Result``, leaving its last session running: the
caller tears it down and checks that nothing outlives it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import harness
import probes
from canary import CANARY, mismatch
from gen_archive import write_archive
from gen_tables import write_tables

# canary passes per timed unit. Each query is timed three times, so the
# median and the tail (here p83) each fall on a query's middle sample
# rather than on one noisy op.
CANARY_PASSES = 3
# the archive the ingest streams: files land in rounds of ROUND_FILES,
# each round one AvailableNow run on the same checkpoint
ROUND_FILES = 6
INGEST_WARMUP_FILES = 2
INGEST_FILES = INGEST_WARMUP_FILES + 8 * ROUND_FILES
TXS_PER_LEDGER = 4


@dataclass
class Run:
    run_dir: str
    seed: int
    seconds: float
    trace: bool
    cpus: int


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    checks_ok: bool = True
    setup_s: float = 0.0
    elapsed_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


# -- canary -------------------------------------------------------------------------


def canary(run: Run, sf: float) -> Result:
    """The 20 canary queries at one scale, round-robin, one client."""
    from history_collector_spark import catalog, registry

    res = Result()
    data = write_tables(os.path.join(run.run_dir, "data", f"sf{sf}"), run.seed, sf)

    spark, get_spark_s = harness.start_session(run.run_dir, run.cpus)
    t0 = time.perf_counter()
    registry.load_all()
    load_all_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for name in catalog.TABLES:
        catalog.table(spark, data, name)
    table_s = time.perf_counter() - t0
    queries = registry.QUERIES

    # warm-up: one real pass, collecting each result for the oracle check
    collected, wrong = {}, {}
    t0 = time.perf_counter()
    for name in CANARY:
        try:
            collected[name] = queries[name](spark, data).toPandas()
        except Exception as exc:  # a broken query is a wrong output
            wrong[name] = f"raised {type(exc).__name__}: {exc}"[:300]
    res.setup_s = get_spark_s + load_all_s + table_s + time.perf_counter() - t0

    # correctness, untimed: every result against its DuckDB oracle
    _check_oracles(data, collected, wrong, registry.ORACLES)
    collected.clear()
    for name, why in wrong.items():
        res.notes.append(f"wrong output: {name}: {why}")

    window = harness.JobWindow(spark) if run.trace else None
    progress = harness.Progress()
    listener = harness.progress_listener(spark, progress) if run.trace else None
    hygiene = harness.Hygiene()
    build, execute, counts = [], [], []

    t_start = time.perf_counter()
    while time.perf_counter() - t_start < run.seconds:
        # whole passes, so every run times the same mix
        for name in CANARY * CANARY_PASSES:
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                res.failed += 1
                res.notes.append(f"op failed: {name}: {exc}"[:300])
                continue
            t2 = time.perf_counter()
            res.latencies.append(t2 - t0)
            build.append(t1 - t0)
            execute.append(t2 - t1)
            if name in wrong:
                res.failed += 1
            if run.trace:
                counts.append(window.close_op())
                hygiene.observe(spark)
    res.elapsed_s = time.perf_counter() - t_start

    if run.trace:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
        res.layers.update(
            {
                "session.get_spark_s": get_spark_s,
                "registry.load_all_s": load_all_s,
                "catalog.table_cold_s": table_s,
                "queries.build_s": harness.p50(build),
                "exec.run_s": harness.p50(execute),
                **harness.mean_counts(counts),
                **progress.metrics(),
                **_hygiene_layers(hygiene),
            }
        )
        res.layers.update(probes.sources(spark, run))
        res.layers.update(probes.sinks(spark, run))
    return res


def _check_oracles(data: str, collected: dict, wrong: dict, oracles: dict) -> None:
    import duckdb
    from history_collector_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data, t + '.parquet')}'"
            )
        for name, got in collected.items():
            sql = oracles.get(name)
            if sql is None:
                if got.empty:
                    wrong[name] = "no rows and no oracle"
                continue
            why = mismatch(got, con.sql(sql).df())
            if why is not None:
                wrong[name] = why
    finally:
        con.close()


def _hygiene_layers(h: harness.Hygiene) -> dict[str, float]:
    return {
        "pinning.live_pins": h.live_pins,
        "hygiene.memory_tables_left": h.memory_tables,
        "hygiene.active_streams_left": h.active_streams,
    }


# -- archive ingest -------------------------------------------------------------------


def ingest(run: Run) -> Result:
    """The paper's pipeline: archive files land in rounds; each round is one
    AvailableNow run of ``start_ingest`` (one file per micro-batch) through
    ``kin_transform`` into ``ExactlyOnceDualSink`` on one checkpoint."""
    from history_collector_spark.sinks.exactly_once import ExactlyOnceDualSink
    from history_collector_spark.streaming.ingest import start_ingest

    from pipeline import TimedSink, kin_transform, sink_rows

    res = Result()
    arc = write_archive(
        os.path.join(run.run_dir, "archive"), run.seed, INGEST_FILES, TXS_PER_LEDGER
    )

    def land(indices, landing):
        os.makedirs(landing, exist_ok=True)
        for i in indices:
            src = arc.tx_files[i]
            os.link(src, os.path.join(landing, os.path.basename(src)))

    def stream(spark, base, batch_fn, builds=None):
        t0 = time.perf_counter()
        q = start_ingest(
            spark,
            os.path.join(base, "landing"),
            os.path.join(base, "checkpoint"),
            batch_fn,
            transform=kin_transform,
        )
        if builds is not None:
            builds.append(time.perf_counter() - t0)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    spark, get_spark_s = harness.start_session(run.run_dir, run.cpus)

    # warm-up: a short ingest of its own files into its own sink
    warm = os.path.join(run.run_dir, "warm")
    os.makedirs(os.path.join(warm, "out"))
    land(range(INGEST_WARMUP_FILES), os.path.join(warm, "landing"))
    t0 = time.perf_counter()
    stream(spark, warm, ExactlyOnceDualSink(os.path.join(warm, "out")))
    res.setup_s = get_spark_s + time.perf_counter() - t0
    shutil.rmtree(warm)

    base = os.path.join(run.run_dir, "ingest")
    out = os.path.join(base, "out")
    os.makedirs(out)
    sink = ExactlyOnceDualSink(out)
    timed = TimedSink(sink)
    window = harness.JobWindow(spark) if run.trace else None
    counts = []
    progress = harness.Progress()
    hygiene = harness.Hygiene()
    builds, landed, last_epoch = [], [], None

    t_start = time.perf_counter()
    pos = INGEST_WARMUP_FILES
    while pos < INGEST_FILES and time.perf_counter() - t_start < run.seconds:
        batch = range(pos, min(pos + ROUND_FILES, INGEST_FILES))
        pos = batch.stop
        land(batch, os.path.join(base, "landing"))
        landed.extend(batch)
        try:
            q = stream(spark, base, timed, builds)
        except RuntimeError as exc:
            res.notes.append(f"stream failed: {exc}"[:300])
            break
        for p in q.recentProgress:
            if "addBatch" in p.durationMs:
                res.latencies.append(p.durationMs["triggerExecution"] / 1000.0)
                last_epoch = p.batchId
            progress.add(dict(p.durationMs), p.numInputRows)
        if run.trace:
            counts.extend(window.split_by_time(timed.windows[len(counts) :]))
            hygiene.observe(spark)
    res.elapsed_s = time.perf_counter() - t_start
    res.attempted = len(landed)

    # correctness, untimed: every landed file became exactly one committed
    # epoch holding exactly the rows the generator kept
    bad_files, rows = _check_sink(spark, sink, arc, landed, res)
    res.failed = len(bad_files)
    if sink.last_committed() != last_epoch:
        res.checks_ok = False
        res.notes.append(
            f"last_committed {sink.last_committed()} != last epoch {last_epoch}"
        )

    # replay: a restart on the same checkpoint with no new files
    t0 = time.perf_counter()
    q = stream(spark, base, timed)
    replay_s = time.perf_counter() - t0
    replayed = [p for p in q.recentProgress if p.numInputRows > 0]
    rows_after = sink_rows(spark, sink)
    if replayed or rows_after != rows:
        res.checks_ok = False
        res.notes.append(f"replay wrote {rows_after - rows} rows")

    if run.trace:
        add_batch = progress.phases["addBatch"]
        res.layers.update(
            {
                "session.get_spark_s": get_spark_s,
                "queries.build_s": harness.p50(builds),
                "exec.run_s": harness.p50(add_batch) / 1000.0,
                **harness.mean_counts(counts),
                **progress.metrics(),
                "sinks.write_batch_s": harness.p50(timed.write_s),
                "sinks.jobs_per_batch": harness.mean_counts(counts)["spark.jobs"],
                "sinks.rows_written": float(rows),
                "sinks.bytes_written": float(harness.dir_bytes(out)),
                "sinks.replay_s": replay_s,
                **_hygiene_layers(hygiene),
            }
        )
        res.layers.update(probes.sources(spark, run))
        res.layers.update(probes.registry_catalog(spark, run))
    return res


def _check_sink(spark, sink, arc, landed, res: Result) -> tuple[set[int], int]:
    """Files whose sink output is wrong, and the total rows in the sink."""
    from history_collector_spark.sources.xdr import LEDGERS_PER_FILE
    from pyspark.sql import functions as F

    first = {ledger: i for i, ledger in enumerate(arc.first_ledger)}

    def file_of(ledger: int) -> int | None:
        return first.get(ledger - (ledger - arc.first_ledger[0]) % LEDGERS_PER_FILE)

    got = {i: {"payment": 0, "creation": 0} for i in landed}
    epoch_file: dict[int, int] = {}
    bad: set[int] = set()
    committed = sink.last_committed()
    total = 0
    for kind, path in (("payment", sink.payments_dir), ("creation", sink.creations_dir)):
        if not os.path.isdir(path):
            continue
        for r in (
            spark.read.parquet(path)
            .groupBy("epoch_id")
            .agg(
                F.count("*").alias("n"),
                F.min("ledger_seq").alias("lo"),
                F.max("ledger_seq").alias("hi"),
            )
            .collect()
        ):
            total += r.n
            fi = file_of(r.lo)
            if fi is None or fi != file_of(r.hi) or fi not in got:
                res.checks_ok = False
                res.notes.append(f"epoch {r.epoch_id} spans ledgers {r.lo}..{r.hi}")
                continue
            if committed is None or r.epoch_id > committed:
                bad.add(fi)  # rows of an epoch the marker never committed
            if epoch_file.setdefault(r.epoch_id, fi) != fi:
                bad.update((fi, epoch_file[r.epoch_id]))
            got[fi][kind] += r.n
    for i in landed:
        if got[i] != arc.expected[i]:
            bad.add(i)
            res.notes.append(f"file {i}: sink {got[i]} != expected {arc.expected[i]}")
    return bad, total
