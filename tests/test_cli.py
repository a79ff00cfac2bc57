"""CLI surface smoke tests (list/oracle need no Spark session; query
routes through the same registry the driver uses)."""

from __future__ import annotations

from history_collector_spark.__main__ import main


def test_cli_list_enumerates_registry(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) > 200
    names = {l.split("\t")[0] for l in out}
    assert {"account_history", "pipeline_parity", "tpch_q19_disjunctive"} <= names


def test_cli_oracle_prints_sql(capsys):
    assert main(["oracle", "point_lookup"]) == 0
    assert "o_orderkey = 7" in capsys.readouterr().out


def test_cli_oracle_missing_is_error(capsys):
    # embedding_whitening_audit is the one permanent rows-only query
    # (LAPACK eigh trajectories are not SQL-replayable); round 15
    # oracle-ized bpe_encode_corpus so it no longer fits here
    assert main(["oracle", "embedding_whitening_audit"]) == 1
    assert main(["oracle", "does_not_exist"]) == 1


def test_cli_parity_green_and_rows_only_error(capsys, monkeypatch):
    from tests.conftest import TEST_SF_DIR

    # rows-only query has no oracle -> error before any Spark work
    assert main(["parity", "embedding_whitening_audit"]) == 1
    # oracle-bearing query runs the round-6-then-exact gate end to end
    assert main(["parity", "scalar_pack", "--sf-dir", TEST_SF_DIR]) == 0
    assert "PARITY OK: scalar_pack" in capsys.readouterr().out


def test_cli_ingest_commits_kin_rows(spark, tmp_path):
    """`ingest` runs the exactly-once stream end to end: one binary XDR
    file -> KIN/app-id filter -> one committed epoch."""
    from history_collector_spark.sinks.exactly_once import ExactlyOnceDualSink
    from history_collector_spark.sources import xdr_codec as xc
    from history_collector_spark.sources.xdr import write_xdr_archive_file

    issuer, other = bytes(range(32)), bytes(range(32, 64))
    app_tx = xc.build_transaction(
        b"\x09" * 32, 100, 1, "1-abcd-1",
        [
            xc.build_operation(xc.OP_PAYMENT, b"\x01" * 32, 500, "KIN", issuer),
            xc.build_operation(xc.OP_PAYMENT, b"\x02" * 32, 600, "KIN", other),
            xc.build_operation(xc.OP_PAYMENT, b"\x03" * 32, 650),
            xc.build_operation(
                xc.OP_CREATE_ACCOUNT, b"\x04" * 32, 700, source=b"\x06" * 32
            ),
        ],
    )
    plain_tx = xc.build_transaction(
        b"\x09" * 32, 100, 2, "no app id",
        [xc.build_operation(xc.OP_PAYMENT, b"\x05" * 32, 800, "KIN", issuer)],
    )
    landing = tmp_path / "landing"
    write_xdr_archive_file(
        str(landing), "transactions", "0000003f",
        [xc.build_transaction_entry(
            63, [xc.build_envelope(app_tx), xc.build_envelope(plain_tx)]
        )],
    )
    out = str(tmp_path / "out")
    assert main([
        "ingest", "--landing", str(landing), "--out", out,
        "--checkpoint", str(tmp_path / "ckpt"), "--kin-issuer", issuer.hex(),
    ]) == 0

    sink = ExactlyOnceDualSink(out)
    assert sink.last_committed() == 0
    pays = spark.read.parquet(sink.payments_dir).collect()
    assert [
        (r.source, r.destination, r.amount, r.app_id, r.epoch_id) for r in pays
    ] == [("09" * 32, "01" * 32, 500, "abcd", 0)]
    # an operation's own source account overrides the transaction's
    creations = spark.read.parquet(sink.creations_dir).collect()
    assert [(r.source, r.amount, r.op_index) for r in creations] == [
        ("06" * 32, 700, 3)
    ]
