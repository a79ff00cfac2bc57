"""Stateful gapless-release stream, end-to-end (§2.7-d as a registered
query).

The reference's strictest ingest rule is stall-don't-skip: file N+128
is never processed before N+64 (python/main.py:88-105, 286-293). The
streaming form is `streaming/stateful.py:track_gapless` — a per-key
applyInPandasWithState operator that buffers ahead-of-gap arrivals in
the state store and releases sequences only in contiguous order,
flagging replays.

This query replays a deterministic, out-of-order, duplicate-bearing
sequence feed (derived from `orders`) as a file stream in single-file
micro-batches, so arrivals genuinely cross batch boundaries and state
genuinely carries between them. The output is ORDER-INSENSITIVE
deterministic: every sequence releases 'ok' exactly once, and every
injected replay yields exactly one 'duplicate' — whether the copy
lands while the original is still pending (same or later batch) or
after release, the tracker flags it — so the DuckDB oracle can state
the exact expected multiset.

Scale shape: state per stream key is (expected_next, pending csv) —
bytes, never data rows; the payload itself flows through the normal
sink path. Keys partition the stream, so a million independent ledger
streams track in parallel.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.registry import register
from history_collector_spark.scratch import per_session, scratch_dir
from history_collector_spark.streaming.conf import (
    drain_to_memory,
    python_state_partitions,
    run_once,
)
from history_collector_spark.streaming.replay import write_replay_files
from history_collector_spark.streaming.stateful import (
    MG_CAPACITY,
    track_ewma,
    track_gapless,
    track_heavy_hitters,
    track_hll,
    track_page_hinkley,
    track_zscore,
)

_N_PER_STREAM = 24  # sequences per stream: 0, 64, ..., 23*64
_STEP = 64
_DUP_EVERY = 5  # every 5th sequence is fed twice


@register(
    "streaming_gapless_e2e",
    oracle=f"""
    WITH ranked AS (
      SELECT concat('s', o_orderkey % 2) AS stream_id,
             CAST((row_number() OVER (PARTITION BY o_orderkey % 2
                                      ORDER BY o_orderkey) - 1) * {_STEP}
                  AS BIGINT) AS seq
      FROM orders
      WHERE o_orderkey < 4096
      QUALIFY row_number() OVER (PARTITION BY o_orderkey % 2
                                 ORDER BY o_orderkey) <= {_N_PER_STREAM}
    )
    SELECT stream_id, seq, 'ok' AS status FROM ranked
    UNION ALL
    SELECT stream_id, seq, 'duplicate' AS status FROM ranked
    WHERE (seq // {_STEP}) % {_DUP_EVERY} = 0
    """,
)
def streaming_gapless_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic feed: two streams, N dense sequences each, every
    # 5th duplicated; shuffled across 6 files by md5 so arrival order
    # is scrambled and gaps are guaranteed to appear mid-stream
    # the o_orderkey < 4096 prune bounds the 2-partition ranking window
    # to a fixture-sized input (this is feed CONSTRUCTION, not the
    # operator under test — the tracker itself partitions by stream key)
    ranked = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4096)
        .select((F.col("o_orderkey") % 2).alias("p"), "o_orderkey")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("p").orderBy("o_orderkey")),
        )
        .filter(F.col("rn") <= _N_PER_STREAM)
        .select(
            F.concat(F.lit("s"), F.col("p")).alias("stream_id"),
            ((F.col("rn") - 1) * _STEP).cast("long").alias("seq"),
        )
    )
    dups = ranked.filter((F.col("seq") / _STEP) % _DUP_EVERY == 0)
    feed = ranked.unionAll(dups).withColumn(
        "file_no",
        (
            F.conv(
                F.substring(F.md5(F.concat("stream_id", "seq")), 1, 4), 16, 10
            ).cast("long")
            % 6
        ),
    )
    # one parquet file per file_no -> maxFilesPerTrigger=1 gives 6
    # genuine micro-batches with state carried between them
    flat = write_replay_files(
        feed, ("stream_id", "seq"), 6, prefix="hc_gapless_"
    )

    stream = (
        spark.readStream.schema("stream_id string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    released = track_gapless(stream, start_seq=0, step=_STEP)
    # key_bound=2: the feed constructs exactly two stream_ids (r16 —
    # 32 state partitions cost 2-7 s of Python round-trips PER BATCH)
    try:
        out = drain_to_memory(
            released,
            state_partitions=python_state_partitions(spark, key_bound=2),
        )
    finally:
        shutil.rmtree(flat, ignore_errors=True)
    return out.select("stream_id", "seq", "status")


# The EWMA, z-score and upsert e2e queries consume the IDENTICAL 6-file
# feed, so it is built once per (session, sf_dir, n_files) and shared —
# exactly like dedup.candidate_pair_table. Spark deletes it on stop().
@per_session
def _time_partitioned_replay_dir(
    spark: SparkSession, sf_dir: str, n_files: int
) -> str:
    """Write events as n_files TIME-RANGE-partitioned parquet files
    with strictly increasing mtimes, so maxFilesPerTrigger=1 replays
    them as in-event-time-order micro-batches. The range bucketing is
    a map-only 1-row bounds broadcast (fixture construction never
    sorts globally); mtimes are pinned because the file source orders
    batches by MODIFICATION time and same-second copies would scramble
    the replay. Memoized per (session, corpus, n_files) so the
    stateful e2e consumers pay the fixture I/O once."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    us = F.unix_micros("ts")
    bounds = ev.agg(F.min(us).alias("mn"), F.max(us).alias("mx"))
    feed = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "file_no",
        F.floor(
            F.lit(n_files)
            * (us - F.col("mn"))
            / (F.col("mx") - F.col("mn") + F.lit(1))
        ).cast("int"),
    )
    return write_replay_files(
        feed,
        ("event_id", "ts", "user_id", "value"),
        n_files,
        prefix="hc_replay_",
    )


# ---------------------------------------------------------------------------
# Update-mode streaming UPSERT: the keyed-aggregate maintenance pattern
# — each micro-batch emits only the keys it CHANGED, foreachBatch
# upserts them (epoch-tagged delta + last-write-wins merge), and the
# final merged table must equal the batch aggregate exactly.
# ---------------------------------------------------------------------------


@register(
    "streaming_upsert_e2e",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS total_value
    FROM events GROUP BY user_id
    """,
)
def streaming_upsert_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user count/sum maintained across the 6-batch replay
    in update output mode: a batch emits a user's row ONLY when that
    user appeared in the batch, foreachBatch lands the emitted deltas
    epoch-tagged, and the read side merges last-write-wins per user —
    the streaming MERGE/upsert dataflow a warehouse-serving aggregate
    table runs. The final merged state must equal the plain batch
    GROUP BY (any missed or stale update breaks the oracle).

    Scale shape: state is two numbers per user; each delta write is
    bounded by keys-touched-per-batch, not total keys — the property
    that makes update-mode serving tables cheap when the key space is
    huge but per-batch activity is sparse."""
    import os

    flat = _time_partitioned_replay_dir(spark, sf_dir, _EWMA_FILES)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    out_dir = scratch_dir("hc_upsert_")

    def upsert_batch(batch_df, epoch_id: int) -> None:
        # the delta: only keys changed in this epoch arrive here
        (
            batch_df.withColumn("batch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"epoch={epoch_id}"))
        )

    run_once(agg.writeStream.foreachBatch(upsert_batch).outputMode("update"))
    deltas = spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "epoch=*")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        deltas.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# Watermark LATE-DROP accounting: the append-mode semantics nothing
# else exercises — windows EMIT only once the watermark passes them,
# and genuinely late rows are DROPPED, deterministically.
# ---------------------------------------------------------------------------

_LATE_FILES = 6
_LATE_DELAY_MIN = 90  # watermark delay


@per_session
def _late_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """The 6-file time-range replay, with a deterministic twist: rows
    with event_id % 13 == 0 from the first two buckets arrive FOUR
    buckets later (about 20 days after their event time at any SF) —
    unambiguously beyond any sane watermark. Bucketing is integer
    `div` arithmetic so the DuckDB oracle reproduces the displacement
    exactly."""
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    us = F.unix_micros("ts")
    bounds = ev.agg(F.min(us).alias("mn"), F.max(us).alias("mx"))
    feed = (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn(
            "orig",
            F.expr(
                f"({_LATE_FILES} * (unix_micros(ts) - mn)) div (mx - mn + 1)"
            ),
        )
        .withColumn(
            "arrival",
            F.when(
                (F.col("event_id") % 13 == 0) & (F.col("orig") <= 1),
                F.col("orig") + 4,
            ).otherwise(F.col("orig")),
        )
    )
    return write_replay_files(
        feed,
        ("event_id", "ts", "event_type"),
        _LATE_FILES,  # displaced arrivals stay within 0.._LATE_FILES-1
        bucket_col="arrival",
        prefix="hc_late_",
    )


@register(
    "streaming_late_drop_e2e",
    oracle=f"""
    WITH bounds AS (
      SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
    ), coded AS (
      SELECT event_id, ts, event_type,
             ({_LATE_FILES} * (epoch_us(ts) - mn)) // (mx - mn + 1) AS orig
      FROM events, bounds
    ), kept AS (
      -- displaced rows arrive ~20 days late: watermark has long passed
      -- their window, so the stream DROPS them
      SELECT * FROM coded WHERE NOT (event_id % 13 = 0 AND orig <= 1)
    )
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM kept, bounds
    -- append mode emits a window only once the FINAL watermark
    -- (global max event time - delay) passes its end
    WHERE epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
          <= mx - CAST({_LATE_DELAY_MIN} AS BIGINT) * 60 * 1000000
    GROUP BY 1, 2
    """,
)
def streaming_late_drop_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermarked window counts over a replay where some
    rows arrive ~20 days after their event time: the result must (a)
    EXCLUDE the late rows — the watermark dropped them, (b) exclude
    the trailing windows the final watermark never passed — they are
    still in state when AvailableNow terminates, and (c) match the
    batch aggregate everywhere else. The oracle states all three from
    the same integer-div bucketing the fixture used.

    This is the semantic streaming_window_counts (complete mode)
    cannot see: complete mode re-emits everything, so drops and
    unemitted windows are invisible. Here the watermark is load-
    bearing, which is exactly what bounds state size at 100 TB —
    without it every hour window ever seen stays in the store.

    Scale shape: state per (window, type) is one count; drops happen
    at the input filter, before any state lookup."""
    flat = _late_replay_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    agg = (
        stream.withWatermark("ts", f"{_LATE_DELAY_MIN} minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
    )
    return drain_to_memory(agg).select(
        F.col("w.start").alias("window_start"),
        "event_type",
        F.col("count").alias("n"),
    )


# Oracle (round 13, rows-only -> hash-gated): the Misra-Gries fold is
# sequential but fully deterministic — per batch the tracker sorts by
# (ts, event_id), batches are the arrival buckets of the shared late-
# replay fixture — so DuckDB can replay it in LOCKSTEP with a
# recursive CTE that carries the counter set as a LIST(STRUCT(uid,
# cnt)), one recursion step per arrival. list_transform/list_append/
# list_filter preserve list order exactly like the tracker's
# insertion-ordered dict (increment in place, insert at end, drop on
# decrement-to-zero), so the final snapshot is value-identical, not
# just set-identical. The emitted row set is the max-n_seen non-empty
# snapshot per key, i.e. the state at the last arrival-bucket
# boundary where the key had rows and counters survived — stated by
# joining the recursion against the per-bucket boundary positions.
# tests/test_round5.py keeps the pure-Python third opinion + the
# classical MG guarantees.
@register(
    "streaming_topk_e2e",
    oracle=f"""
    WITH RECURSIVE bounds AS (
      SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
    ),
    feed AS (
      SELECT event_id, ts, event_type, event_id % 50 AS user_id,
             ({_LATE_FILES} * (epoch_us(ts) - mn)) // (mx - mn + 1) AS orig
      FROM events, bounds
    ),
    seq AS (
      SELECT event_type, user_id,
             CASE WHEN event_id % 13 = 0 AND orig <= 1
                  THEN orig + 4 ELSE orig END AS arrival,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY (CASE WHEN event_id % 13 = 0 AND orig <= 1
                              THEN orig + 4 ELSE orig END), ts, event_id
             ) AS k
      FROM feed
    ),
    mg AS (
      SELECT event_type, CAST(0 AS BIGINT) AS k,
             CAST([] AS STRUCT(uid BIGINT, cnt BIGINT)[]) AS pairs
      FROM (SELECT DISTINCT event_type FROM seq)
      UNION ALL
      SELECT s.event_type, s.k,
        CASE
          WHEN list_contains(list_transform(m.pairs, p -> p.uid),
                             s.user_id)
            THEN list_transform(m.pairs, p ->
                   CASE WHEN p.uid = s.user_id
                        THEN struct_pack(uid := p.uid, cnt := p.cnt + 1)
                        ELSE p END)
          WHEN len(m.pairs) < {MG_CAPACITY}
            THEN list_append(m.pairs,
                   struct_pack(uid := s.user_id,
                               cnt := CAST(1 AS BIGINT)))
          ELSE list_filter(
                 list_transform(m.pairs,
                   p -> struct_pack(uid := p.uid, cnt := p.cnt - 1)),
                 p -> p.cnt > 0)
        END AS pairs
      FROM mg m JOIN seq s ON s.event_type = m.event_type
                          AND s.k = m.k + 1
    ),
    bdry AS (
      SELECT event_type, max(k) AS k FROM seq GROUP BY event_type, arrival
    ),
    last_ne AS (
      SELECT b.event_type, max(b.k) AS k
      FROM bdry b JOIN mg m ON m.event_type = b.event_type AND m.k = b.k
      WHERE len(m.pairs) > 0
      GROUP BY b.event_type
    )
    SELECT m.event_type,
           unnest(list_transform(m.pairs, p -> p.uid)) AS user_id,
           unnest(list_transform(m.pairs, p -> p.cnt)) AS est_count,
           l.k AS n_seen
    FROM last_ne l JOIN mg m ON m.event_type = l.event_type AND m.k = l.k
    """,
)
def streaming_topk_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: a Misra-Gries counter set (capacity 8)
    per event_type rides the state store across the 6-batch replay
    (shared with streaming_late_drop_e2e — the fixture is memoized);
    each batch emits the key's snapshot stamped with n_seen and the
    query keeps the final one.

    Scale shape: state is O(capacity) ids+counts per key — the
    streaming twin of the batch Misra-Gries in heavy_hitter_tokens,
    with the summary surviving restarts via the state store. A million
    keys cost megabytes; the per-arrival update is O(1) amortized."""
    flat = _late_replay_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    # user dimension: derive a stable pseudo-user from the event id so
    # the fixture stays 3 columns (the tracker only needs an id stream)
    stream = stream.withColumn("user_id", F.col("event_id") % 50)
    out = track_heavy_hitters(stream)
    # key_bound: the tracker is keyed by event_type — a small, fixed
    # domain (5 types in the fixture; event taxonomies are O(10))
    snaps = drain_to_memory(
        out, state_partitions=python_state_partitions(spark, key_bound=5)
    )
    w = Window.partitionBy("event_type")
    return (
        snaps.withColumn("max_seen", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("max_seen"))
        .select("event_type", "user_id", "est_count", "n_seen")
    )


# ---------------------------------------------------------------------------
# Streaming EWMA e2e: the recursion's memory (one double per user)
# rides the state store across micro-batches.
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.2
# 4 range-ordered micro-batches (was 6): every user's rows still
# straddle multiple batch boundaries, so the state-crossing contract
# each consumer proves is unchanged, while the per-batch fixed cost
# (planning + state-store round + Arrow hop) drops by a third across
# the SIX queries sharing this one memoized feed.
_EWMA_FILES = 4


@register(
    "streaming_ewma_e2e",
    oracle=f"""
    WITH x AS (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS k
      FROM events
    )
    SELECT event_id, user_id,
           power({1 - _EWMA_ALPHA}, k)
             * sum((CASE WHEN k = 1 THEN value
                         ELSE {_EWMA_ALPHA} * value END)
                   * power({1 - _EWMA_ALPHA}, -k))
               OVER (PARTITION BY user_id ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS ewma
    FROM x
    """,
)
def streaming_ewma_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events replayed as TIME-RANGE-partitioned micro-batches into
    the stateful EWMA (streaming/stateful.py:track_ewma): because every
    user's rows straddle batch boundaries, the smoothed value genuinely
    carries through the state store — and the result must equal the
    BATCH closed form, which is what the oracle states. State is one
    double per key (bounded at any scale); the feed partitioner is a
    map-only epoch-range bucketing (1-row bounds broadcast), so fixture
    construction never sorts globally."""
    flat = _time_partitioned_replay_dir(spark, sf_dir, _EWMA_FILES)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out = track_ewma(stream, _EWMA_ALPHA)
    return drain_to_memory(
        out, state_partitions=python_state_partitions(spark)
    ).select("event_id", "user_id", "ewma")


# ---------------------------------------------------------------------------
# Streaming z-score e2e: prior-only anomaly scoring with Welford
# moments carried across micro-batches.
# ---------------------------------------------------------------------------


@register(
    "streaming_zscore_e2e",
    oracle="""
    WITH x AS (
      SELECT event_id, user_id, value,
             avg(value) OVER wp AS pm,
             stddev_samp(value) OVER wp AS ps,
             count(*) OVER wp AS pn
      FROM events
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           CASE WHEN pn >= 2 AND ps > 0
                THEN (value - pm) / ps END AS z
    FROM x
    """,
)
def streaming_zscore_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event scored against ONLY its predecessors (the honest
    online-anomaly semantics — batch z-scores that include the point
    itself leak the future). The oracle is the batch prefix-window
    formulation; the stream must reproduce it with three Welford
    numbers per key surviving the state store across six time-range
    micro-batches."""
    flat = _time_partitioned_replay_dir(spark, sf_dir, _EWMA_FILES)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out = track_zscore(stream)
    return drain_to_memory(
        out, state_partitions=python_state_partitions(spark)
    ).select("event_id", "user_id", "z")


# ---------------------------------------------------------------------------
# CDC -> SCD2 streaming maintenance: the warehouse-dimension dataflow —
# each micro-batch of change records rewrites ONLY the touched keys'
# version histories (epoch-tagged snapshots, last-write-wins read), and
# the final table must equal the SCD2 window over the full change log.
# ---------------------------------------------------------------------------


@register(
    "streaming_scd2_cdc_e2e",
    oracle="""
    SELECT user_id,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           value,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def streaming_scd2_cdc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a slowly-changing-dimension (type 2) table from the
    6-batch CDC replay: every change record opens a version and closes
    its predecessor. foreachBatch rebuilds the version history ONLY
    for the keys the batch touched — previous state for those keys is
    recovered from the accumulated epoch snapshots (last-write-wins at
    key grain), merged with the batch's changes, re-windowed, and
    written as this epoch's snapshot. The read side takes each key's
    LATEST epoch, and the result must equal the one-shot SCD2 window
    over the entire change log (any missed close, duplicated version,
    or stale snapshot breaks the oracle).

    Scale shape: per-epoch work is bounded by touched keys x their
    version counts, not table size — the incremental MERGE shape a
    dimension table needs when the key space is huge and per-batch
    churn is sparse. Ties on (ts) break on event_id in both the
    maintenance job and the oracle, so versions are deterministic.
    """
    import os

    flat = _time_partitioned_replay_dir(spark, sf_dir, _EWMA_FILES)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out_dir = scratch_dir("hc_scd2_")

    def current_changes(batch_spark, users_df):
        """Recover the touched keys' accumulated CHANGE LIST from the
        newest epoch snapshot per key (empty frame on epoch 0)."""
        try:
            prev = batch_spark.read.option("basePath", out_dir).parquet(
                os.path.join(out_dir, "epoch=*")
            )
        except Exception:
            return None
        latest = F.max("batch_id").over(Window.partitionBy("user_id"))
        return (
            prev.join(users_df, "user_id")
            .withColumn("mx", latest)
            .filter(F.col("batch_id") == F.col("mx"))
            .select("user_id", "event_id", F.col("valid_from").alias("ts"), "value")
        )

    def apply_cdc(batch_df, epoch_id: int) -> None:
        changes = batch_df.select("user_id", "event_id", "ts", "value")
        touched = changes.select("user_id").distinct()
        prev = current_changes(batch_df.sparkSession, touched)
        if prev is not None:
            changes = changes.unionByName(prev)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        versions = changes.select(
            "user_id",
            "event_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "value",
            F.lead("ts").over(w).isNull().alias("is_current"),
        ).withColumn("batch_id", F.lit(int(epoch_id)))
        versions.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    run_once(stream.writeStream.foreachBatch(apply_cdc).outputMode("append"))

    snaps = spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "epoch=*")
    )
    latest = F.max("batch_id").over(Window.partitionBy("user_id"))
    return (
        snaps.withColumn("mx", latest)
        .filter(F.col("batch_id") == F.col("mx"))
        .select("user_id", "valid_from", "valid_to", "value", "is_current")
    )


# ---------------------------------------------------------------------------
# Streaming Page-Hinkley drift e2e: concept-drift monitoring with four
# numbers per key carried across micro-batches.
# ---------------------------------------------------------------------------

_PH_DELTA = 0.05
_PH_LAMBDA = 25.0


@register(
    "streaming_page_hinkley_e2e",
    oracle=f"""
    WITH x AS (
      SELECT event_id, user_id, ts, value,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS rm
      FROM events
    ), m AS (
      SELECT event_id, user_id, ts,
             sum(value - rm - {_PH_DELTA}) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      FROM x
    )
    SELECT event_id, user_id,
           mt - min(mt) OVER wp AS ph,
           (mt - min(mt) OVER wp) > {_PH_LAMBDA} AS drift
    FROM m
    WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def streaming_page_hinkley_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events replayed as time-range micro-batches into the stateful
    Page-Hinkley monitor (streaming/stateful.py:track_page_hinkley):
    the cumulative deviation and its running minimum genuinely carry
    through the state store across batch boundaries, and every emitted
    statistic must equal the batch two-stacked-prefix-window closed
    form the oracle states. State is four numbers per key — bounded at
    any scale; keys partition the stream so a million independent
    monitors run in parallel (the same contract as the EWMA/z-score
    trackers)."""
    flat = _time_partitioned_replay_dir(spark, sf_dir, _EWMA_FILES)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out = track_page_hinkley(stream, _PH_DELTA, _PH_LAMBDA)
    return drain_to_memory(
        out, state_partitions=python_state_partitions(spark)
    ).select("event_id", "user_id", "ph", "drift")


# ---------------------------------------------------------------------------
# Streaming HLL merge e2e: distinct-user sketch built ACROSS 6 real
# micro-batches and 4 state-store shards, then max-merged — the
# mergeable-sketch contract (batch boundaries and shard splits change
# NOTHING) stated exactly by a batch-built oracle.
# ---------------------------------------------------------------------------

_SHLL_M = 64
_SHLL_SHARDS = 4
_SHLL_VBITS = 26
_SHLL_ALPHA = 0.709


@register(
    "streaming_hll_merge_e2e",
    oracle=f"""
    WITH h AS (
      SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS hv
      FROM events
    ),
    rho AS (
      SELECT hv % {_SHLL_M} AS bucket,
             CASE WHEN hv // {_SHLL_M} = 0 THEN {_SHLL_VBITS + 1}
                  ELSE {_SHLL_VBITS} - length(bin(hv // {_SHLL_M})) + 1
             END AS r
      FROM h
    ),
    regs AS (
      SELECT g.b AS bucket, coalesce(max(rho.r), 0) AS r
      FROM (SELECT unnest(range(0, {_SHLL_M})) AS b) g
      LEFT JOIN rho ON rho.bucket = g.b
      GROUP BY g.b
    )
    SELECT {_SHLL_M} AS m,
           CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(sum((bucket + 1) * r) AS BIGINT) AS register_checksum,
           sum(power(2.0, -r)) AS sum_inv,
           ({_SHLL_ALPHA} * {_SHLL_M * _SHLL_M}) / sum(power(2.0, -r))
             AS estimate
    FROM regs
    """,
)
def streaming_hll_merge_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user HLL built in Structured Streaming: the events
    replay (6 time-partitioned micro-batches) flows into
    streaming/stateful.py:track_hll, which carries 64 integer
    registers per state-store shard (user_id % 4) and max-merges each
    batch with one vectorized numpy scatter; afterwards the 4 shard
    vectors max-merge into one. Because register max is commutative,
    associative, and idempotent, the final registers — and therefore
    every output column — are BIT-IDENTICAL to the oracle's batch
    build over the same rows: the mergeable-sketch contract, asserted
    exactly, not approximately.

    Scale shape: per-shard state is 64 longs regardless of corpus
    size; the hash/bucket/rho math runs JVM-side BEFORE the Python
    stateful operator (Arrow carries three small ints per row); the
    post-stream merge touches shards x 64 rows. This is the streaming
    half of sketch_hll_estimate (same register layout), i.e. the
    incremental form a 100 TB nightly distinct-count rollup runs.
    """
    flat = _time_partitioned_replay_dir(spark, sf_dir, _EWMA_FILES)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        )
        .cast("long")
    )
    v = F.floor(F.col("hv") / _SHLL_M).cast("long")
    enriched = stream.select(
        (F.col("user_id") % _SHLL_SHARDS).alias("shard"), h.alias("hv")
    ).select(
        "shard",
        (F.col("hv") % _SHLL_M).alias("bucket"),
        F.when(v == 0, F.lit(_SHLL_VBITS + 1))
        .otherwise(F.lit(_SHLL_VBITS) - F.length(F.bin(v)) + 1)
        .alias("rho"),
    )
    out = track_hll(enriched, m=_SHLL_M)
    # key_bound: state is keyed by shard = user_id % _SHLL_SHARDS
    t = drain_to_memory(
        out, state_partitions=python_state_partitions(spark, key_bound=_SHLL_SHARDS)
    )
    last = (
        t.groupBy("shard")
        .agg(F.max("upd").alias("u"))
        .select(F.col("shard").alias("lshard"), "u")
    )
    final = t.join(
        F.broadcast(last),
        (F.col("shard") == F.col("lshard")) & (F.col("upd") == F.col("u")),
    ).select("bucket", "r")
    regs = final.groupBy("bucket").agg(F.max("r").alias("r"))
    raw = (F.lit(_SHLL_ALPHA) * F.lit(float(_SHLL_M * _SHLL_M))) / F.col(
        "sum_inv"
    )
    return (
        regs.agg(
            F.sum(F.when(F.col("r") == 0, 1).otherwise(0)).alias("n_zero"),
            F.sum((F.col("bucket") + 1) * F.col("r")).alias(
                "register_checksum"
            ),
            F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sum_inv"),
        )
        .select(
            F.lit(_SHLL_M).alias("m"),
            "n_zero",
            "register_checksum",
            "sum_inv",
            raw.alias("estimate"),
        )
    )
