"""JDBC dual-table sink — S5 of SURVEY.md §2.1, with the reference's
commit-visibility semantics.

The reference writes payments + creations + the `lastfile` checkpoint
in ONE Postgres transaction (python/adapters/hc_storage_adapter.py:
47-59, python/adapters/postgres_storage_adapter.py:48-51). Spark's JDBC
writer commits per-partition, so cross-table atomicity cannot come from
the writer itself. This sink keeps exactly-once the same way the
parquet sink does (sinks/exactly_once.py): every row carries its
epoch_id, data lands first, the checkpoint row moves last, and READERS
only trust rows whose epoch_id <= the committed checkpoint — the
completion-marker design (python/adapters/s3_storage_adapter.py:64-78)
expressed as a visibility predicate instead of a filesystem marker.

Runtime-verified end-to-end against the embedded Derby JDBC driver that
ships inside Spark's own jars (tests/test_sinks.py::
test_jdbc_dual_sink_roundtrip_embedded_derby): real driver, real DDL
through the dialect, real append/read-back, replay guard and crash
visibility included. Postgres in production differs only by url/driver
properties (python/adapters/postgres_storage_adapter.py:28-51).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def committed_view(rows: DataFrame, committed_epoch: int | None) -> DataFrame:
    """Reader-side visibility: only rows from fully-committed epochs.

    `rows` must carry the epoch_id column the sink stamps; an
    uncommitted (crashed mid-write) epoch is invisible, so at-least-once
    appends still present exactly-once results."""
    if committed_epoch is None:
        return rows.limit(0)
    return rows.filter(F.col("epoch_id") <= committed_epoch)


class JdbcDualSink:
    """foreachBatch body writing payments/creations/lastfile over JDBC.

    mirrors ExactlyOnceDualSink: skip replayed epochs, stamp epoch_id,
    data before checkpoint."""

    def __init__(
        self,
        url: str,
        properties: dict | None = None,
        payments_table: str = "payments",
        creations_table: str = "creations",
        lastfile_table: str = "lastfile",
    ):
        self.url = url
        self.properties = properties or {}
        self.payments_table = payments_table
        self.creations_table = creations_table
        self.lastfile_table = lastfile_table

    def ensure_tables(self, spark) -> None:
        """First-run bootstrap of the checkpoint table (the reference's
        build_database.py seeds `lastfile` with DDL; over generic JDBC
        an empty append-mode write creates it through the dialect's
        type mapping). Idempotent: appending zero rows to an existing
        table is a no-op."""
        spark.createDataFrame([], "epoch_id bigint").write.jdbc(
            self.url, self.lastfile_table, mode="append",
            properties=self.properties,
        )

    def last_committed(self, spark) -> int | None:
        df = spark.read.jdbc(
            self.url, self.lastfile_table, properties=self.properties
        )
        row = df.select(F.max("epoch_id").alias("e")).collect()[0]
        return row["e"]

    def _delete_epoch_rows(self, spark, table: str, epoch_id: int) -> None:
        """Remove partial rows a crashed attempt of this epoch left
        behind (the reference gets this for free from its single
        Postgres transaction; over generic JDBC, delete-before-append
        makes the replay idempotent). One driver-side statement against
        an epoch_id-indexed predicate — no data moves through Spark."""
        jvm = spark._jvm
        driver = self.properties.get("driver")
        if driver:
            jvm.java.lang.Class.forName(driver)
        try:
            conn = jvm.java.sql.DriverManager.getConnection(self.url)
            try:
                st = conn.createStatement()
                # Spark's JDBC writer quotes COLUMN identifiers on
                # CREATE (table names pass through raw) — match it
                st.executeUpdate(
                    f'DELETE FROM {table} WHERE "epoch_id" = {int(epoch_id)}'
                )
            finally:
                conn.close()
        except Exception:
            # table not created yet (first epoch) — nothing to clean;
            # genuine connectivity failures resurface in the append below
            pass

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        committed = self.last_committed(spark)
        if committed is not None and epoch_id <= committed:
            return  # replayed epoch — already visible to readers

        # a crashed attempt of THIS epoch may have left partial rows:
        # clean them so the re-append is exactly-once, not at-least-once
        for tbl in (self.payments_table, self.creations_table):
            self._delete_epoch_rows(spark, tbl, epoch_id)

        tagged = batch_df.withColumn("epoch_id", F.lit(epoch_id))
        for kind, tbl in (
            ("payment", self.payments_table),
            ("creation", self.creations_table),
        ):
            # an empty side appends nothing; the checkpoint still advances
            rows = tagged.filter(F.col("type") == kind).drop("type")
            rows.write.jdbc(
                self.url, tbl, mode="append", properties=self.properties
            )

        # checkpoint LAST: a crash above leaves invisible rows, never a
        # committed-but-missing epoch (batchsize etc. ride properties)
        spark.createDataFrame([(epoch_id,)], "epoch_id bigint").write.jdbc(
            self.url, self.lastfile_table, mode="append", properties=self.properties
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.write_batch(batch_df, epoch_id)
