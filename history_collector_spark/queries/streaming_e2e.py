"""Driver-verifiable end-to-end Structured Streaming queries.

The streaming stack (SURVEY.md §2.7, `streaming/ingest.py`) is mostly
exercised in pytest; these two queries additionally run REAL streams —
`Trigger.AvailableNow` so they terminate — inside the driver's
correctness gate, with DuckDB oracles over the same parquet tables:

- streaming_ingest_e2e: archive files (stub codec, S1/S3) are derived
  deterministically from `orders`, streamed through binaryFile +
  mapInPandas decode in 64-ledger micro-batches (§2.7-a/b), and the
  decoded per-ledger tx counts must equal a plain batch aggregate over
  `orders` — proving the stream loses/duplicates nothing.
- streaming_window_counts: `events` replayed as a file stream into a
  watermarked tumbling-window aggregation (§2.7-f); complete-mode
  output must equal the batch window aggregate.

The in-memory result sink is the correctness-gate harness only — a
production ingest uses the exactly-once foreachBatch sink
(`sinks/exactly_once.py`), tested for replay/crash in tests/test_sinks.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import events_ts, table
from history_collector_spark.registry import register
from history_collector_spark.scratch import scratch_dir
from history_collector_spark.streaming.conf import drain_to_memory
from history_collector_spark.sources.xdr import (
    LEDGERS_PER_FILE,
    write_archive_file,
)
from history_collector_spark.streaming.ingest import read_archive_stream

_SLICE = 8192  # orders with o_orderkey < _SLICE -> 128 ledgers -> 2 files


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` replayed as a file stream, `ts` normalized exactly as
    catalog.table does for the batch scan (both on-disk vintages)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return events_ts(
        # the streaming file source wants a directory: stream the sf
        # dir, glob-filtered to the events file
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _write_archive_from_orders(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the deterministic stub archive for the ingest test.

    This is the ARCHIVER side of the fixture (the reference's upstream
    history archive), not the engine under test — the bounded driver
    collect here builds test input files, never query results.
    """
    rows = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < _SLICE)
        .select(
            (F.col("o_orderkey") / LEDGERS_PER_FILE).cast("long").alias("ledger_seq"),
            F.md5(F.col("o_orderkey").cast("string")).alias("hash"),
            (F.col("o_orderkey") % 1000).cast("int").alias("fee"),
            F.col("o_custkey").cast("string").alias("source"),
        )
        .collect()
    )
    by_ledger: dict[int, list[dict]] = {}
    for r in rows:
        by_ledger.setdefault(r["ledger_seq"], []).append(
            {
                "hash": r["hash"],
                "fee": r["fee"],
                "memo": "1-aaa1-O",
                "source": r["source"],
                "operations": [],
            }
        )
    landing = scratch_dir("hc_ingest_")
    n_files = _SLICE // LEDGERS_PER_FILE // LEDGERS_PER_FILE + 1
    for g in range(n_files):
        entries = [
            {"ledger_seq": ls, "txs": txs}
            for ls, txs in sorted(by_ledger.items())
            if g * LEDGERS_PER_FILE <= ls < (g + 1) * LEDGERS_PER_FILE
        ]
        if entries:
            file_seq = format(g * LEDGERS_PER_FILE + LEDGERS_PER_FILE - 1, "08x")
            write_archive_file(landing, file_seq, entries)
    return landing


@register(
    "streaming_ingest_e2e",
    oracle=f"""
    SELECT o_orderkey // {LEDGERS_PER_FILE} AS ledger_seq,
           count(*) AS n_txs,
           min(md5(CAST(o_orderkey AS VARCHAR))) AS first_hash
    FROM orders WHERE o_orderkey < {_SLICE}
    GROUP BY 1
    """,
)
def streaming_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive -> file stream -> decode -> per-ledger counts, exactly
    the batch truth: the §2.7-a/b ingest path, driver-verified."""
    landing = _write_archive_from_orders(spark, sf_dir)
    try:
        decoded = drain_to_memory(
            read_archive_stream(spark, landing, max_files_per_trigger=1)
        )
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    return decoded.select(
        "ledger_seq",
        F.size("txs").cast("long").alias("n_txs"),
        F.array_min(F.col("txs.hash")).alias("first_hash"),
    )


@register(
    "streaming_window_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` replayed as a stream into a watermarked tumbling-window
    count (§2.7-f), complete mode so every window is emitted before
    AvailableNow terminates; must equal the batch window aggregate."""
    stream = _events_stream(spark, sf_dir).select("ts", "event_type")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
    )
    return drain_to_memory(agg, "complete").select(
        F.col("w.start").alias("window_start"),
        "event_type",
        F.col("count").alias("n"),
    )


@register(
    "streaming_dedup_e2e",
    oracle="""
    SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
    FROM events
    """,
)
def streaming_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` replayed as a stream through watermark-bounded
    deduplication (§2.7-f extension): first occurrence of each
    (user_id, event_type, day) key is emitted, state for keys older
    than the watermark is evicted — the bounded-state form a forever-
    running ingest needs (plain dropDuplicates state grows without
    bound). Append-mode output must equal the batch DISTINCT.
    """
    stream = _events_stream(spark, sf_dir).select(
        "user_id", "event_type",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
    )
    deduped = stream.withWatermark("day", "1 day").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "day"]
    )
    return drain_to_memory(deduped).select("user_id", "event_type", "day")


@register(
    "streaming_static_join_e2e",
    oracle="""
    SELECT c.c_nationkey AS nationkey, count(*) AS n_events,
           sum(e.value) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def streaming_static_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (§2.7 extension): the event stream enriches
    against a static dimension mid-flight — the streaming twin of J1's
    broadcast lookup. The static side is broadcast per micro-batch (no
    streaming state at all, unlike stream-stream joins), so this scales
    with the dimension, not the stream. Complete-mode aggregate must
    equal the batch join+agg.
    """
    stream = _events_stream(spark, sf_dir).select("user_id", "value")
    customer = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    joined = stream.join(
        F.broadcast(customer), stream.user_id == customer.c_custkey
    )
    agg = joined.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    return drain_to_memory(agg, "complete").select(
        "nationkey", "n_events", "total_value"
    )


@register(
    "streaming_sessionize_e2e",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def streaming_sessionize_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` replayed as a stream into a session-window aggregation
    (§2.7-f extension) — the streaming twin of `session_window_agg`,
    sharing its gap-islands oracle. Session state merges windows whose
    gap is < 30 min; complete mode emits every session at AvailableNow
    termination, so the result must equal the batch sessionization.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .select("user_id", "ts")
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
    )
    return drain_to_memory(agg, "complete").select(
        "user_id", "session_start", "n_events"
    )


@register(
    "streaming_interval_join_e2e",
    oracle="""
    SELECT s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL '1 day'
    """,
)
def streaming_interval_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM watermarked interval join (§2.7 extension): signups
    and purchases arrive as two independent streams; each purchase joins
    every signup by the same user in the preceding day. This is the one
    streaming join class stream-static can't express — both sides buffer
    state, and the watermark + time-range condition is what lets Spark
    evict it (state is bounded by the interval, not the stream length).
    Inner-join append output must equal the batch interval join.
    """
    signups = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = signups.join(
        purchases,
        F.expr(
            """
            s_user = p_user
            AND purchase_ts > signup_ts
            AND purchase_ts <= signup_ts + INTERVAL 1 DAY
            """
        ),
    )
    return drain_to_memory(joined).select(
        F.col("s_user").alias("user_id"), "signup_ts", "purchase_ts"
    )


@register(
    "streaming_outer_join_e2e",
    oracle="""
    WITH b AS (
      -- the query watermark is the MIN across the two watermarked
      -- inputs of (that side's max event time - delay): the two
      -- branches filter the same source, so their maxes differ
      SELECT least(max(CASE WHEN event_type = 'signup' THEN ts END),
                   max(CASE WHEN event_type = 'purchase' THEN ts END))
             AS mx
      FROM events
    ),
    signups AS (
      SELECT user_id, ts AS signup_ts FROM events WHERE event_type = 'signup'
    ), purchases AS (
      SELECT user_id, ts AS purchase_ts FROM events
      WHERE event_type = 'purchase'
    ), matched AS (
      SELECT s.user_id, s.signup_ts, p.purchase_ts
      FROM signups s JOIN purchases p
        ON s.user_id = p.user_id
       AND p.purchase_ts > s.signup_ts
       AND p.purchase_ts <= s.signup_ts + INTERVAL '1 day'
    )
    SELECT user_id, signup_ts, purchase_ts FROM matched
    UNION ALL
    -- a signup with no purchase in its day emits null-padded, but
    -- ONLY once the final watermark (max event time - 1 hour) has
    -- passed the end of its join window
    SELECT s.user_id, s.signup_ts, CAST(NULL AS TIMESTAMP)
    FROM signups s, b
    WHERE NOT EXISTS (
      SELECT 1 FROM purchases p
      WHERE p.user_id = s.user_id
        AND p.purchase_ts > s.signup_ts
        AND p.purchase_ts <= s.signup_ts + INTERVAL '1 day')
      AND s.signup_ts + INTERVAL '1 day' < b.mx - INTERVAL '1 hour'
    """,
)
def streaming_outer_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics the
    inner e2e can't show: a signup with no purchase inside its window
    is HELD in state until the watermark proves no future match can
    arrive, then emitted null-padded; signups whose window the final
    watermark never passes stay buffered (and are excluded by the
    oracle, same reasoning as streaming_late_drop_e2e's unemitted
    tail). Both the matched pairs and the timed-out emissions are
    oracle-stated exactly.

    State is bounded by the interval length x arrival rate per key —
    the watermark eviction being verified here is precisely what keeps
    a 100 TB stream-stream join's state finite."""
    signups = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = signups.join(
        purchases,
        F.expr(
            """
            s_user = p_user
            AND purchase_ts > signup_ts
            AND purchase_ts <= signup_ts + INTERVAL 1 DAY
            """
        ),
        "leftOuter",
    )
    return drain_to_memory(joined).select(
        F.col("s_user").alias("user_id"), "signup_ts", "purchase_ts"
    )
