"""The bounded-stream drain path and streaming state sizing.

Every bounded stream in the engine ends the same way: it runs once
under ``Trigger.AvailableNow`` (the run-once trigger of the Structured
Streaming paper) and its sink is read back. ``run_once`` is that step,
and the only place it is written down. Its contract:

- ``spark.sql.shuffle.partitions`` is set to the stream's state-partition
  count for the start and drain, then restored. A stateful query fixes
  its state partitions at first start, so this is the one moment the
  size is chosen; the session's batch setting is never left changed.
- The writer gets a fresh temp ``checkpointLocation``. It is deleted
  once the query has stopped, whether the drain succeeded or raised.
- The query is started with ``trigger(availableNow=True)``, awaited, and
  stopped in ``finally``: an error raised inside a micro-batch (a
  failing ``foreachBatch``, say) propagates to the caller, and no query
  is left running behind it.

``drain_to_memory`` is the read-back form used by the registered
streams. It drains into the in-memory sink under a unique name, takes
``spark.table(name)`` and drops that temp view at once. The returned
frame's plan holds the sink's rows itself, so it still collects (and
can still be transformed, joined with itself, and so on) after the view
is gone, and no result table accumulates in the session catalog.

The long-running, checkpointed production ingest
(``streaming/ingest.py:start_ingest``) owns its checkpoint and trigger,
and does not go through this path.

In sessions from ``session.get_spark``, drain checkpoints (and the
ingest's) are written through ``FileSystemBasedCheckpointFileManager``.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from history_collector_spark.functions.scope import scoped_shuffle_partitions

# State-store parallelism for the driver-gated e2e streams. A stateful
# streaming query fixes its number of state partitions at FIRST start
# (it is baked into the checkpoint), and every micro-batch then runs
# that many state tasks per stateful operator — so an oversized value
# multiplies fixed per-task overhead across every trigger while an
# undersized one caps the stream's aggregate throughput. The e2e
# queries here replay bounded fixtures (thousands of rows across <=6
# micro-batches), where a handful of partitions is the right size; a
# production 100 TB ingest would start its (long-lived, checkpointed)
# query once with partitions sized to peak state volume instead —
# this knob scopes the choice per query instead of inheriting whatever
# batch-oriented session default is active.
STREAM_STATE_PARTITIONS = 8

CHECKPOINT_PREFIX = "hc_drain_ck_"


def run_once(
    writer: DataStreamWriter, state_partitions: int = STREAM_STATE_PARTITIONS
) -> None:
    """Drain ``writer``'s stream to its sink under AvailableNow and
    clean up after it (see the module docstring for the contract)."""
    spark = writer._spark
    checkpoint = tempfile.mkdtemp(prefix=CHECKPOINT_PREFIX)
    try:
        with scoped_shuffle_partitions(spark, state_partitions):
            q = (
                writer.option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)


def drain_to_memory(
    df: DataFrame,
    output_mode: str = "append",
    state_partitions: int = STREAM_STATE_PARTITIONS,
) -> DataFrame:
    """Drain the streaming frame ``df`` into the memory sink and return
    its rows as a batch frame; the sink's temp view is already dropped."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    try:
        run_once(
            df.writeStream.format("memory").queryName(name).outputMode(output_mode),
            state_partitions,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def python_state_partitions(spark: SparkSession, key_bound: int | None = None) -> int:
    """State-partition count for PYTHON stateful operators
    (applyInPandasWithState).

    Two opposing costs (both measured at sf0.1/local[32], r15+r16):

    - every Python state partition is one Arrow round-trip through a
      worker process PER MICRO-BATCH (~60-200 ms each even for an
      empty partition), so partitions beyond the stream's key
      cardinality are pure per-trigger overhead — the r16 profile of
      streaming_gapless_e2e (2 stream keys) showed 32 partitions
      costing 2-7 s per batch vs ~1 s at 4;
    - for MANY-key, work-heavy trackers the round-trips run
      concurrently and parallelism wins — the near-dup bucket tracker
      (thousands of (band, bucket) keys) measured 4 partitions 11.8 s,
      8 partitions 7.4 s, 32 partitions 4.9 s in r15, and the
      user-keyed trackers (1500 keys) showed no change 32 -> 4.

    So the caller passes ``key_bound`` — the stream's known key-domain
    cardinality (a property of the feed, not of the local core count)
    — and the partition count is min(defaultParallelism, key_bound):
    scale-adaptive on any cluster shape, never more state tasks than
    keys. Callers with unbounded/large key domains omit it and get
    full parallelism; JVM-stateful streams keep the small module
    default above."""
    n = spark.sparkContext.defaultParallelism
    if key_bound is not None:
        n = max(1, min(n, key_bound))
    return n
