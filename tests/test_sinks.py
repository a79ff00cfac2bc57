"""Exactly-once sink tests — ports of the reference's adapter-semantic
suite: idempotent replay, empty-batch checkpoint advance
(python/tests/test_postgres_storage_adapter.py:230-251), crash-between-
data-and-marker recovery (the S3 rollback test's moral equivalent,
python/tests/test_s3_storage_adapter.py:136-156), nullability
enforcement (:54-113), the pinned epoch conversion (:254-269), and
DDL-from-schema (S9)."""

from __future__ import annotations

import datetime
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from history_collector_spark.schemas import (
    create_table_ddl,
    creations_schema,
    enforce_nullability,
    payments_schema,
)
from history_collector_spark.sinks.exactly_once import (
    ExactlyOnceDualSink,
    PartitionedCsvSink,
    get_storage_sink,
)


def _batch(spark, n=4, kind_split=True):
    from pyspark.sql import functions as F

    df = spark.range(n).select(
        F.when((F.col("id") % 2 == 0) | (not kind_split), "payment")
        .otherwise("creation")
        .alias("type"),
        F.col("id").cast("string").alias("source"),
        F.lit("dest").alias("destination"),
        (F.col("id") * 10.0).alias("amount"),
        F.md5(F.col("id").cast("string")).alias("hash"),
    )
    return df


def test_exactly_once_replay_is_idempotent(spark, tmp_path):
    sink = ExactlyOnceDualSink(str(tmp_path / "out"))
    os.makedirs(sink.base_dir, exist_ok=True)
    sink.write_batch(_batch(spark), 0)
    n_payments = spark.read.parquet(sink.payments_dir).count()
    sink.write_batch(_batch(spark), 0)  # replay of committed epoch: no-op
    assert spark.read.parquet(sink.payments_dir).count() == n_payments
    assert sink.last_committed() == 0
    sink.write_batch(_batch(spark), 1)
    assert sink.last_committed() == 1
    assert spark.read.parquet(sink.payments_dir).count() == 2 * n_payments


def test_empty_batch_advances_checkpoint(spark, tmp_path):
    sink = ExactlyOnceDualSink(str(tmp_path / "out"))
    os.makedirs(sink.base_dir, exist_ok=True)
    sink.write_batch(_batch(spark).limit(0), 0)
    assert sink.last_committed() == 0  # checkpoint advanced
    assert not os.path.exists(sink.payments_dir)  # no data written


def test_crash_between_data_and_marker_recovers(spark, tmp_path):
    sink = ExactlyOnceDualSink(str(tmp_path / "out"))
    os.makedirs(sink.base_dir, exist_ok=True)
    sink.write_batch(_batch(spark), 0)

    # crash after data write, before marker commit
    real_commit = sink._commit
    sink._commit = lambda *a, **k: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        sink.write_batch(_batch(spark), 1)
    assert sink.last_committed() == 0  # marker untouched

    # restart: replay epoch 1 -> dynamic overwrite, no duplication
    sink._commit = real_commit
    sink.write_batch(_batch(spark), 1)
    assert sink.last_committed() == 1
    per_epoch = (
        spark.read.parquet(sink.payments_dir)
        .groupBy("epoch_id")
        .count()
        .collect()
    )
    counts = {r["epoch_id"]: r["count"] for r in per_epoch}
    assert counts[0] == counts[1]  # identical batch, no dup rows


def test_write_batch_is_one_spark_job(spark, tmp_path):
    """Both tables and the epoch land in ONE job commit: no isEmpty
    probes, no per-kind writes, one decode of the batch."""
    sink = ExactlyOnceDualSink(str(tmp_path / "out"))
    sc = spark.sparkContext
    sc.setJobGroup("exactly-once-one-job", "write_batch")
    try:
        sink.write_batch(_batch(spark), 0)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("exactly-once-one-job")
    assert len(jobs) == 1
    assert sink.last_committed() == 0
    assert spark.read.parquet(sink.payments_dir).count() == 2
    assert spark.read.parquet(sink.creations_dir).count() == 2


def test_one_sided_batch_writes_one_table(spark, tmp_path):
    from pyspark.sql import functions as F

    sink = ExactlyOnceDualSink(str(tmp_path / "out"))
    sink.write_batch(_batch(spark).filter(F.col("type") == "creation"), 0)
    assert sink.last_committed() == 0
    assert not os.path.exists(sink.payments_dir)
    creations = spark.read.parquet(sink.creations_dir)
    assert creations.count() == 2
    # the public read path keeps today's columns: data + epoch_id
    assert creations.columns == [
        "source", "destination", "amount", "hash", "epoch_id"
    ]


def test_untagged_rows_are_not_written(spark, tmp_path):
    from pyspark.sql import functions as F

    sink = ExactlyOnceDualSink(str(tmp_path / "out"))
    other = _batch(spark, n=2).withColumn("type", F.lit("fee"))
    sink.write_batch(_batch(spark).unionByName(other), 0)
    parts = {p for p in os.listdir(sink.base_dir) if p.startswith("type=")}
    assert parts == {"type=payment", "type=creation"}
    assert spark.read.parquet(sink.payments_dir).count() == 2


def test_write_batch_leaves_session_conf_alone(spark, tmp_path):
    """Dynamic overwrite is a writer option, not session state."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        sink = ExactlyOnceDualSink(str(tmp_path / "out"))
        sink.write_batch(_batch(spark), 0)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, old)


def test_nullability_enforcement(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("s", "d", 1.0, None, 1, 1, 0, "ok", None, "h", datetime.datetime(2020, 1, 1)),
            (None, "d", 1.0, "m", 1, 1, 0, "ok", None, "h", datetime.datetime(2020, 1, 1)),
        ],
        schema="source string, destination string, amount double, memo_text string,"
        " fee int, fee_charged int, operation_index int, tx_status string,"
        " op_status string, hash string, time timestamp",
    )
    valid, rejected = enforce_nullability(df, payments_schema())
    assert valid.count() == 1 and rejected.count() == 1
    assert rejected.collect()[0]["source"] is None


def test_pinned_epoch_conversion(spark):
    """1535594286 -> 2018-08-30 01:58:06
    (python/tests/test_postgres_storage_adapter.py:254-269)."""
    from pyspark.sql import functions as F

    row = spark.range(1).select(
        F.timestamp_seconds(F.lit(1535594286)).alias("t")
    ).collect()[0]
    assert row["t"] == datetime.datetime(2018, 8, 30, 1, 58, 6)


def test_ddl_generation():
    ddl = create_table_ddl("payments", payments_schema())
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS payments")
    for col in ("source", "destination", "amount", "memo_text", "fee",
                "fee_charged", "operation_index", "hash", "time"):
        assert col in ddl
    assert "starting_balance" in create_table_ddl("creations", creations_schema())


def test_sink_dispatch_exactly_one(tmp_path):
    with pytest.raises(ValueError):
        get_storage_sink(str(tmp_path), conf={})
    with pytest.raises(ValueError):
        get_storage_sink(
            str(tmp_path), conf={"HCS_SINK_PARQUET": "1", "HCS_SINK_CSV": "1"}
        )
    assert isinstance(
        get_storage_sink(str(tmp_path), conf={"HCS_SINK_PARQUET": "1"}),
        ExactlyOnceDualSink,
    )
    assert isinstance(
        get_storage_sink(str(tmp_path), conf={"HCS_SINK_CSV": "1"}),
        PartitionedCsvSink,
    )


def test_partitioned_csv_skips_empty(spark, tmp_path):
    from pyspark.sql import functions as F

    sink = PartitionedCsvSink(str(tmp_path / "csv"))
    df = spark.range(4).select(
        (F.col("id") % 2).alias("ledger"), F.col("id").alias("v")
    )
    sink.write(df.limit(0))
    assert not os.path.exists(sink.base_dir)  # empty write skipped
    sink.write(df)
    parts = {p for p in os.listdir(sink.base_dir) if p.startswith("ledger=")}
    assert parts == {"ledger=0", "ledger=1"}


# -- JDBC sink semantics (S5): the visibility predicate and replay guard
# are pure DataFrame logic, tested without a database ------------------------


def test_jdbc_committed_view_hides_uncommitted_epochs(spark):
    from history_collector_spark.sinks.jdbc import committed_view

    rows = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "epoch_id bigint, v string"
    )
    assert committed_view(rows, None).count() == 0
    assert committed_view(rows, 2).count() == 2  # epoch 3 crashed mid-write
    assert committed_view(rows, 3).count() == 3


def test_jdbc_dual_sink_roundtrip_embedded_derby(spark, tmp_path):
    """S5 end-to-end over a REAL JDBC driver: Spark bundles embedded
    Derby in its own jars, so the full path — dialect DDL, append
    writes, checkpoint read-back, replay skip, crash visibility — runs
    against an actual database. Production swaps url/driver for
    Postgres (python/adapters/postgres_storage_adapter.py:28-51)."""
    from pyspark.sql import functions as F

    from history_collector_spark.sinks.jdbc import JdbcDualSink, committed_view

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    sink = JdbcDualSink(url, properties=props)
    sink.ensure_tables(spark)
    sink.ensure_tables(spark)  # idempotent
    assert sink.last_committed(spark) is None

    batch = spark.createDataFrame(
        [("payment", "s1", 100), ("payment", "s2", 250), ("creation", "s3", 7)],
        "type string, source string, amount bigint",
    )
    sink.write_batch(batch, 0)
    sink.write_batch(batch, 0)  # replayed epoch must not duplicate
    pays = spark.read.jdbc(url, "payments", properties=props)
    assert pays.count() == 2
    assert spark.read.jdbc(url, "creations", properties=props).count() == 1
    assert sink.last_committed(spark) == 0

    # payment-only epoch: the empty creation side appends nothing and
    # the checkpoint still advances
    sink.write_batch(batch.filter(F.col("type") == "payment"), 1)
    assert sink.last_committed(spark) == 1
    assert spark.read.jdbc(url, "payments", properties=props).count() == 4
    creations = spark.read.jdbc(url, "creations", properties=props)
    assert creations.filter(F.col("epoch_id") == 1).count() == 0
    assert creations.count() == 1

    # crash simulation: epoch 2 data lands partially (1 of 2 payment
    # rows), checkpoint write never runs
    batch.filter(F.col("source") == "s1").drop("type").withColumn(
        "epoch_id", F.lit(2)
    ).write.jdbc(url, "payments", mode="append", properties=props)
    all_rows = spark.read.jdbc(url, "payments", properties=props)
    assert all_rows.count() == 5  # uncommitted partial row physically present
    visible = committed_view(all_rows, sink.last_committed(spark))
    assert visible.count() == 4  # ...but invisible to readers
    assert visible.agg(F.max("epoch_id")).collect()[0][0] == 1

    # streaming replays the crashed epoch: delete-before-append removes
    # the partial row, so the retry is exactly-once, not at-least-once
    sink.write_batch(batch, 2)
    assert sink.last_committed(spark) == 2
    vis2 = committed_view(
        spark.read.jdbc(url, "payments", properties=props),
        sink.last_committed(spark),
    )
    # Derby stores StringType as CLOB (no pushed-down string equality),
    # so assert on the collected rows
    rows = vis2.toPandas()
    assert len(rows) == 6  # 2 rows per committed epoch — no dupes
    assert (
        (rows["epoch_id"] == 2) & (rows["source"] == "s1")
    ).sum() == 1


# -- Storage bootstrap (S10) -------------------------------------------------


def test_bootstrap_creates_tables_and_seeds_checkpoint(spark, tmp_path):
    from history_collector_spark.sinks.bootstrap import bootstrap_storage

    db = "hcs_boot_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    try:
        bootstrap_storage(spark, database=db, first_file="0000003f")
        tables = {r.tableName for r in spark.sql(f"SHOW TABLES IN {db}").collect()}
        assert {"payments", "creations", "lastfile"} <= tables
        seed = spark.table(f"{db}.lastfile").collect()
        assert [r.name for r in seed] == ["0000003f"]
        # idempotent: re-running neither fails nor re-seeds
        bootstrap_storage(spark, database=db, first_file="0000003f")
        assert spark.table(f"{db}.lastfile").count() == 1
        # misaligned FIRST_FILE rejected (python/build_database.py:24-27)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            bootstrap_storage(spark, database=db, first_file="00000040")
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_decimal_money_switch():
    """The Kin3 float->decimal TODO as a config switch
    (python/adapters/postgres_storage_adapter.py:100)."""
    import importlib

    from pyspark.sql.types import DecimalType, DoubleType

    from history_collector_spark import schemas

    assert isinstance(schemas.payments_schema()["amount"].dataType, DoubleType)
    schemas.DECIMAL_MONEY = True
    try:
        assert schemas.payments_schema()["amount"].dataType == DecimalType(20, 5)
        assert (
            schemas.creations_schema()["starting_balance"].dataType
            == DecimalType(20, 5)
        )
    finally:
        schemas.DECIMAL_MONEY = False
    importlib.reload(schemas)
