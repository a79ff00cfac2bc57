"""Structured-Streaming ingestion — SURVEY.md §2.7.

The reference's infinite loop (python/main.py:254-309) maps to a file
stream: new archive files land in a prefix, each micro-batch is one or
more 64-ledger file groups, the exactly-once sink commits data+
checkpoint together, and a restart resumes from checkpointLocation —
replacing the hand-rolled `lastfile` protocol with the engine's own
offsets PLUS the sink's idempotent epoch commit (both layers, because
foreachBatch is at-least-once by itself).

Triggers: AvailableNow for backfill (drain the archive then stop);
processingTime='180 seconds' matches the reference's poll cadence
(python/main.py:105).

Failure notification (python/main.py:312-366, email/Lambda) becomes a
StreamingQueryListener hook — the alert transport stays a deploy
concern.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from history_collector_spark.sources.xdr import ENTRY_SCHEMA, _decode_batches


def read_archive_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Unbounded tail of the archive prefix (§2.7-a/b): each micro-batch
    consumes whole files — the reference's one-triplet-at-a-time unit
    via maxFilesPerTrigger."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(  # binaryFile's fixed schema, required verbatim
            StructType(
                [
                    StructField("path", StringType()),
                    StructField("modificationTime", TimestampType()),
                    StructField("length", LongType()),
                    StructField("content", BinaryType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(landing_dir)
        .select("path", "content")
    )
    return files.mapInPandas(_decode_batches, schema=ENTRY_SCHEMA)


# memo app-id tag `1-<app>-...`; `[A-z]` kept from python/main.py:57-58
APP_ID_MEMO = r"^1-([A-z0-9]{4})-"


def kin_operations(entries: DataFrame, kin_issuer: str) -> DataFrame:
    """The ETL step between decode and sink (python/main.py:142-199):
    explode decoded ledgers into one row per operation and keep KIN
    payments from `kin_issuer` plus account creations, both only from
    transactions whose memo carries an app id. Each row is tagged with
    the `type` column ExactlyOnceDualSink splits on.

    `kin_issuer` is the issuer as the decoder emits it: lowercase hex of
    the ed25519 key for the binary XDR codec."""
    txs = entries.select("ledger_seq", F.explode("txs").alias("tx"))
    ops = txs.select(
        "ledger_seq", "tx", F.posexplode("tx.operations").alias("op_index", "op")
    )
    op = F.col("op")
    is_payment = (
        (op["type"] == 1)
        & (op["asset"]["assetCode"] == "KIN")
        & (op["asset"]["issuer"] == kin_issuer)
    )
    app_id = F.regexp_extract("tx.memo", APP_ID_MEMO, 1)
    return ops.filter((is_payment | (op["type"] == 0)) & (app_id != "")).select(
        F.when(op["type"] == 1, "payment").otherwise("creation").alias("type"),
        "ledger_seq",
        F.col("tx.hash").alias("hash"),
        # per-op source override, else the tx source (python/main.py:173-176)
        F.coalesce(
            F.try_element_at(op["sourceAccount"], F.lit(1)), F.col("tx.source")
        ).alias("source"),
        op["destination"].alias("destination"),
        F.when(op["type"] == 1, op["amount"])
        .otherwise(op["starting_balance"])
        .alias("amount"),
        F.col("tx.memo").alias("memo"),
        app_id.alias("app_id"),
        F.col("tx.fee").alias("fee"),
        "op_index",
    )


def start_ingest(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    available_now: bool = True,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """File stream -> optional transform -> exactly-once foreachBatch.

    `batch_fn` is typically ExactlyOnceDualSink.write_batch; restart
    with the same checkpoint_dir resumes after the last committed batch
    (§2.7-c: checkpoint offsets + idempotent epoch overwrite = the
    reference's data+lastfile single transaction).
    """
    stream = read_archive_stream(spark, landing_dir)
    if transform is not None:
        stream = transform(stream)
    writer = stream.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="180 seconds")
    return writer.start()


def watermarked_event_dedup(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """§2.7-f extension: drop duplicate tx hashes within the watermark —
    bounded state, late rows beyond the watermark age out."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        ["tx_hash"]
    )


class FailureNotifier:
    """StreamingQueryListener publishing failures to a callback — the
    email/Lambda alert stub (python/main.py:312-366)."""

    def __init__(self, on_failure: Callable[[str], None]):
        self.on_failure = on_failure

    def attach(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        notifier = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                if event.exception is not None:
                    notifier.on_failure(str(event.exception))

        spark.streams.addListener(_Listener())
