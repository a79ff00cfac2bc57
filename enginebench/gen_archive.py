"""Seeded generator for a binary XDR history archive.

Writes real record-marked, gzipped ``transactions-/ledger-/results-``
triplets through the engine's own ``xdr_codec`` builders, one triplet per
64-ledger checkpoint file. Only the ``transactions`` files are streamed;
the ledger and results files feed the single-thread decode measurement.

Each transaction carries one or two operations drawn from a fixed mix, so
the generator knows exactly how many rows the KIN filter must keep:

- payments of KIN from the KIN issuer (kept), of KIN from another issuer,
  of another asset code and of the native asset (all dropped);
- account creations (kept);
- memos ``1-<app>-<n>`` (kept), plain text and no memo (dropped).
"""

from __future__ import annotations

import gzip
import os
import random
from dataclasses import dataclass, field

from history_collector_spark.sources import xdr, xdr_codec

KIN_ISSUER = bytes(range(32))
OTHER_ISSUER = bytes(range(32, 64))
APP_IDS = ("kik0", "tipc", "pers", "swel")
FIRST_SEQ = "0000007f"


@dataclass
class Archive:
    """The generated files plus the rows the ingest pipeline must write."""

    tx_files: list[str] = field(default_factory=list)
    ledger_files: list[str] = field(default_factory=list)
    result_files: list[str] = field(default_factory=list)
    # per transactions file: {"payment": n, "creation": n}
    expected: list[dict[str, int]] = field(default_factory=list)
    # first ledger sequence of each file, parallel to tx_files
    first_ledger: list[int] = field(default_factory=list)


# a fixed population of accounts, as on a real network where the same
# wallets transact again and again
_ACCOUNTS = [random.Random(i).randbytes(32) for i in range(1024)]


def _account(rng: random.Random) -> bytes:
    return rng.choice(_ACCOUNTS)


def _operation(rng: random.Random, app: bool, kept: dict[str, int]) -> bytes:
    kind = rng.randrange(6)
    dest = _account(rng)
    if kind == 0:
        if app:
            kept["creation"] += 1
        return xdr_codec.build_operation(
            xdr_codec.OP_CREATE_ACCOUNT, dest, rng.randrange(1, 10**9)
        )
    amount = rng.randrange(1, 10**12)
    if kind <= 2:  # two in six payments are KIN from the KIN issuer
        if app:
            kept["payment"] += 1
        return xdr_codec.build_operation(
            xdr_codec.OP_PAYMENT, dest, amount, "KIN", KIN_ISSUER
        )
    if kind == 3:
        return xdr_codec.build_operation(
            xdr_codec.OP_PAYMENT, dest, amount, "KIN", OTHER_ISSUER
        )
    if kind == 4:
        return xdr_codec.build_operation(
            xdr_codec.OP_PAYMENT, dest, amount, "USD", OTHER_ISSUER
        )
    return xdr_codec.build_operation(xdr_codec.OP_PAYMENT, dest, amount)


def _ledger(
    rng: random.Random, seq: int, txs_per_ledger: int, kept: dict[str, int]
) -> tuple[bytes, bytes, bytes]:
    envelopes, results = [], []
    for i in range(txs_per_ledger):
        roll = rng.random()
        if roll < 0.7:
            memo = f"1-{rng.choice(APP_IDS)}-{i}"
        elif roll < 0.85:
            memo = f"note {i}"
        else:
            memo = None
        ops = [
            _operation(rng, memo is not None and memo.startswith("1-"), kept)
            for _ in range(rng.randint(1, 2))
        ]
        tx = xdr_codec.build_transaction(
            _account(rng), 100, seq * 1000 + i, memo, ops
        )
        envelopes.append(xdr_codec.build_envelope(tx))
        results.append((bytes(32), 100, 0, [(1, 0)] * len(ops)))
    return (
        xdr_codec.build_transaction_entry(seq, envelopes),
        xdr_codec.build_ledger_entry(seq, 1_500_000_000 + seq * 5),
        xdr_codec.build_result_entry(seq, results),
    )


def write_archive(
    out_dir: str, seed: int, n_files: int, txs_per_ledger: int
) -> Archive:
    """Write n_files triplets under out_dir/{transactions,ledger,results}."""
    rng = random.Random(f"{seed}/{n_files}/{txs_per_ledger}")
    arc = Archive()
    file_seq = FIRST_SEQ
    for _ in range(n_files):
        last = int(file_seq, 16)
        first = last - xdr.LEDGERS_PER_FILE + 1
        kept = {"payment": 0, "creation": 0}
        recs: tuple[list[bytes], list[bytes], list[bytes]] = ([], [], [])
        for seq in range(first, last + 1):
            for acc, rec in zip(recs, _ledger(rng, seq, txs_per_ledger, kept)):
                acc.append(rec)
        arc.tx_files.append(
            xdr.write_xdr_archive_file(
                os.path.join(out_dir, "transactions"), "transactions", file_seq, [b"".join(recs[0])]
            )
        )
        arc.ledger_files.append(
            xdr.write_xdr_archive_file(
                os.path.join(out_dir, "ledger"), "ledger", file_seq, [b"".join(recs[1])]
            )
        )
        arc.result_files.append(
            xdr.write_xdr_archive_file(
                os.path.join(out_dir, "results"), "results", file_seq, [b"".join(recs[2])]
            )
        )
        arc.expected.append(kept)
        arc.first_ledger.append(first)
        file_seq = xdr.next_file_seq(file_seq)
    return arc


def read_payloads(paths: list[str]) -> list[bytes]:
    """Gunzipped bytes of each file, for the in-process decode timing."""
    out = []
    for p in paths:
        with gzip.open(p, "rb") as f:
            out.append(f.read())
    return out
