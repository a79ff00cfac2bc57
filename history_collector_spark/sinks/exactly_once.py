"""Exactly-once dual-table sink — S5-S8 + S11 of SURVEY.md §2.1.

The reference's commit protocol (python/adapters/hc_storage_adapter.py:
47-59) is save = write payments + write creations + advance the
`lastfile` checkpoint, all-or-nothing; Postgres does it in one
transaction (python/adapters/postgres_storage_adapter.py:48-51), S3
writes data then a completion marker then last_file, with rollback
deleting partial objects (python/adapters/s3_storage_adapter.py:64-108).

Spark translation: an idempotent ``foreachBatch`` writer. Each batch
(keyed by its monotonically increasing batch/epoch id) is ONE Spark
write, partitioned by the row's `type` tag and the epoch, with dynamic
partition overwrite — both tables land in one job commit, and a replay
of the same epoch overwrites its own partitions instead of duplicating
them. On-disk layout::

    <base>/type=payment/epoch_id=N/part-*     (payments_dir)
    <base>/type=creation/epoch_id=N/part-*    (creations_dir)
    <base>/last_file                          (the checkpoint marker)

A side with no rows in an epoch writes no partition. Reading
`payments_dir` or `creations_dir` gives the data columns plus
`epoch_id`. Ordering guarantees: data first, marker last, so a crash
between the two leaves a re-runnable epoch, never a committed-but-
missing one (readers trust the marker, mirroring the reference's
completion-marker design).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame

from history_collector_spark.schemas import enforce_nullability, payments_schema


class ExactlyOnceDualSink:
    """Dual-table epoch-partitioned sink with marker-based commit."""

    def __init__(self, base_dir: str, fmt: str = "parquet"):
        self.base_dir = base_dir
        self.fmt = fmt
        self.payments_dir = os.path.join(base_dir, "type=payment")
        self.creations_dir = os.path.join(base_dir, "type=creation")
        self.marker_path = os.path.join(base_dir, "last_file")

    # -- checkpoint (S8) ----------------------------------------------------
    def last_committed(self) -> int | None:
        """Highest committed epoch, or None before the first commit."""
        if not os.path.exists(self.marker_path):
            return None
        with open(self.marker_path) as f:
            return json.load(f)["epoch_id"]

    def _commit(self, epoch_id: int, extra: dict | None = None) -> None:
        # atomic rename = the transactional point (one marker, one move)
        payload = {"epoch_id": epoch_id, **(extra or {})}
        fd, tmp = tempfile.mkstemp(dir=self.base_dir)
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self.marker_path)

    # -- the foreachBatch body (S7) -----------------------------------------
    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Idempotent: replaying an epoch rewrites its own partitions.

        `batch_df` carries the unioned `type`-tagged rows (E4); one
        partitioned write splits them into the two tables, mirroring
        save(payments, creations, file)
        (python/adapters/hc_storage_adapter.py:47-59). An empty batch
        writes no partition but still advances the checkpoint
        (python/tests/test_postgres_storage_adapter.py:230-251).
        """
        committed = self.last_committed()
        if committed is not None and epoch_id <= committed:
            return  # already fully committed — replay is a no-op

        from pyspark.sql import functions as F

        (
            batch_df.filter(F.col("type").isin("payment", "creation"))
            .withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("type", "epoch_id")
            .format(self.fmt)
            .save(self.base_dir)
        )
        self._commit(epoch_id)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.write_batch(batch_df, epoch_id)


class PartitionedCsvSink:
    """S6: one CSV directory per ledger partition, headerless, empty
    batches skipped (python/adapters/s3_storage_adapter.py:194-221)."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def write(self, df: DataFrame, partition_col: str = "ledger") -> None:
        if df.isEmpty():
            return
        (
            df.write.mode("append")
            .partitionBy(partition_col)
            .option("header", "false")
            .csv(self.base_dir)
        )


def get_storage_sink(base_dir: str, conf: dict | None = None):
    """S11: sink dispatch — exactly one of parquet XOR csv, both-or-
    neither is an error (python/main.py:369-390)."""
    conf = conf if conf is not None else dict(os.environ)
    use_parquet = conf.get("HCS_SINK_PARQUET", "").lower() in ("1", "true")
    use_csv = conf.get("HCS_SINK_CSV", "").lower() in ("1", "true")
    if use_parquet == use_csv:
        raise ValueError(
            "configure exactly one sink: HCS_SINK_PARQUET or HCS_SINK_CSV"
        )
    if use_parquet:
        return ExactlyOnceDualSink(base_dir, fmt="parquet")
    return PartitionedCsvSink(base_dir)


def validated(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Nullability gate on the payments schema before the sink — what
    Postgres constraints enforced for the reference."""
    return enforce_nullability(df, payments_schema())
