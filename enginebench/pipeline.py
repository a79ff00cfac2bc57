"""The paper's ETL step between the archive decode and the sink, written
against the engine's public streaming and sink layers.

``kin_transform`` explodes decoded ledgers into one row per operation and
keeps KIN payments from the KIN issuer and account creations whose memo
carries an app id (``1-<app>-...``), tagging each row with the ``type``
column ``ExactlyOnceDualSink`` splits on. ``TimedSink`` is the
``foreachBatch`` function: it times ``write_batch`` and records when each
call ran, so a traced run can attribute the batch's Spark jobs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gen_archive import KIN_ISSUER

APP_ID = r"^1-([A-Za-z0-9]{4})-"


def kin_transform(entries: DataFrame) -> DataFrame:
    txs = entries.select("ledger_seq", F.explode("txs").alias("tx"))
    ops = txs.select(
        "ledger_seq",
        F.col("tx.hash").alias("hash"),
        F.col("tx.source").alias("source"),
        F.col("tx.memo").alias("memo"),
        F.col("tx.fee").alias("fee"),
        F.posexplode("tx.operations").alias("op_index", "op"),
    )
    op = F.col("op")
    is_payment = (
        (op["type"] == 1)
        & (op["asset"]["assetCode"] == "KIN")
        & (op["asset"]["issuer"] == KIN_ISSUER.hex())
    )
    app_id = F.regexp_extract("memo", APP_ID, 1)
    return ops.filter((is_payment | (op["type"] == 0)) & (app_id != "")).select(
        F.when(op["type"] == 1, "payment").otherwise("creation").alias("type"),
        "ledger_seq",
        "hash",
        "source",
        op["destination"].alias("destination"),
        F.when(op["type"] == 1, op["amount"])
        .otherwise(op["starting_balance"])
        .alias("amount"),
        "memo",
        app_id.alias("app_id"),
        "fee",
        "op_index",
    )


class TimedSink:
    """``foreachBatch`` wrapper around ``ExactlyOnceDualSink.write_batch``.

    Records each call's duration and wall-clock window; the Spark jobs of a
    batch are attributed afterwards from those windows."""

    def __init__(self, sink):
        self.sink = sink
        self.write_s: list[float] = []
        self.windows: list[tuple[float, float]] = []

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        start, t0 = time.time(), time.perf_counter()
        self.sink.write_batch(batch_df, epoch_id)
        self.write_s.append(time.perf_counter() - t0)
        self.windows.append((start, time.time()))


def sink_rows(spark, sink) -> int:
    """Rows in both tables of an ``ExactlyOnceDualSink``."""
    return sum(
        spark.read.parquet(d).count()
        for d in (sink.payments_dir, sink.creations_dir)
        if os.path.isdir(d)
    )
