"""Table-maintenance operations as a verified roundtrip: small-file
compaction and range-clustered rewrite (functions/layout.py) driven
end-to-end.

The reference's sink writes one object per 64-ledger batch
(python/adapters/s3_storage_adapter.py:216-221) — at production rates
the classic small-file problem. This query manufactures that state
(a 16-way fragmented copy of `documents`), then runs the two
maintenance rewrites a lake schedules nightly, reporting the file
count and row count after each stage; the oracle pins all of it.
tests/test_round5.py additionally asserts the range-clustered files
cover NON-OVERLAPPING doc_id ranges — the property that lets parquet
footer stats prune whole files.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.functions.layout import compact, write_range_layout
from history_collector_spark.registry import register
from history_collector_spark.scratch import per_session, scratch_dir

_FRAG_FILES = 16
_TARGET_FILES = 4


def _n_parquet_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "part-*.parquet")))


@per_session
def maintenance_dirs(spark: SparkSession, sf_dir: str) -> str:
    """Base dir holding the ``frag``, ``compacted`` and ``ranged``
    stages, built once per (session, corpus). Driver-side work is one
    file listing per stage — at production scale that listing belongs
    to the table format's metadata layer, not the driver; the REWRITES
    themselves are fully distributed (shuffle-repartitioned, not
    coalesced)."""
    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    base = scratch_dir("hc_maint_")
    frag = os.path.join(base, "frag")
    docs.repartition(_FRAG_FILES).write.mode("overwrite").parquet(frag)
    compacted = os.path.join(base, "compacted")
    # target sized so compaction lands exactly _TARGET_FILES even files
    compact(spark, frag, compacted, target_rows_per_file=-(-n // _TARGET_FILES))
    ranged = os.path.join(base, "ranged")
    write_range_layout(
        spark.read.parquet(compacted), ranged, ["doc_id"], _TARGET_FILES
    )
    return base


@register(
    "maintenance_compact_roundtrip",
    oracle=f"""
    SELECT 'fragmented' AS stage, CAST({_FRAG_FILES} AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM documents
    UNION ALL
    SELECT 'compacted', CAST({_TARGET_FILES} AS BIGINT),
           CAST(count(*) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'range_clustered', CAST({_TARGET_FILES} AS BIGINT),
           CAST(count(*) AS BIGINT) FROM documents
    """,
)
def maintenance_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment -> compact -> range-cluster, with file and row counts
    verified per stage (row preservation is the invariant that makes
    a rewrite safe to run unattended; the pinned file counts verify
    the rewrite actually resized the layout)."""
    base = maintenance_dirs(spark, sf_dir)
    rows = [
        (stage, _n_parquet_files(path), spark.read.parquet(path).count())
        for stage, path in (
            ("fragmented", os.path.join(base, "frag")),
            ("compacted", os.path.join(base, "compacted")),
            ("range_clustered", os.path.join(base, "ranged")),
        )
    ]
    return spark.createDataFrame(
        rows, "stage string, n_files long, n_rows long"
    ).select("stage", "n_files", "n_rows")


# ---------------------------------------------------------------------------
# Row-group pruning audit (round 14): the min/max-statistics layer that
# makes sorted layouts prunable. The fixture writes orders sharded by
# key and SORTED within each shard, with a pinned parquet row-group
# size, so the footer statistics are closed-form recomputable; the
# query then reads the REAL parquet footers (pyarrow) and evaluates a
# probe-range grid the way a stats-pruning scan planner would —
# reporting, per probe, how many row groups (and rows) a min/max prune
# admits vs the rows that actually match. At 100 TB this ratio IS the
# difference between reading a partition and reading the corpus; the
# audit quantifies it from the file format's own metadata.
# ---------------------------------------------------------------------------

_RG_ROWS = 1000    # parquet row_group_size in the fixture
_RG_SHARDS = 4     # key-sharded files (sorted within each)
_RG_PROBES = 8     # key-range probes evaluated against the stats


@per_session
def _write_rowgroup_fixture(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("hc_rgprune_")

    def _emit(key, pdf):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        k = int(key[0])
        pdf = pdf.sort_values("o_orderkey")
        path = os.path.join(out, f"orders{k:02d}.parquet")
        tmp = path + ".tmp"
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            tmp,
            row_group_size=_RG_ROWS,
        )
        os.replace(tmp, path)
        return pd.DataFrame([(k, len(pdf))], columns=["shard", "n"])

    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn("shard", F.col("o_orderkey") % _RG_SHARDS)
        .repartition(_RG_SHARDS, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _rowgroup_stats_batches(batches):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            pf = pq.ParquetFile(pa.BufferReader(bytes(blob)))
            key_idx = pf.schema_arrow.get_field_index("o_orderkey")
            for g in range(pf.metadata.num_row_groups):
                col = pf.metadata.row_group(g).column(key_idx)
                st = col.statistics
                rows.append((int(st.min), int(st.max), int(col.num_values)))
        yield pd.DataFrame(rows, columns=["gmin", "gmax", "n_rows"])


@register(
    "maintenance_rowgroup_pruning_audit",
    oracle=f"""
    WITH grp AS (
      SELECT o_orderkey AS k,
             CAST((row_number() OVER (
                     PARTITION BY o_orderkey % {_RG_SHARDS}
                     ORDER BY o_orderkey) - 1) // {_RG_ROWS} AS BIGINT)
               AS g,
             o_orderkey % {_RG_SHARDS} AS shard
      FROM orders
    ),
    gstats AS (
      SELECT shard, g, min(k) AS gmin, max(k) AS gmax,
             CAST(count(*) AS BIGINT) AS nr
      FROM grp GROUP BY shard, g
    ),
    kk AS (SELECT max(o_orderkey) AS kmax FROM orders),
    probes AS (
      SELECT i,
             1 + i * ((kmax + {_RG_PROBES - 1}) // {_RG_PROBES}) AS lo,
             i * ((kmax + {_RG_PROBES - 1}) // {_RG_PROBES})
               + greatest(((kmax + {_RG_PROBES - 1})
                           // {_RG_PROBES}) // 8, 1) AS hi
      FROM (SELECT unnest(range({_RG_PROBES})) AS i), kk
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_groups_total FROM gstats)
    SELECT CAST(p.i AS INT) AS probe,
           CAST(p.lo AS BIGINT) AS lo, CAST(p.hi AS BIGINT) AS hi,
           tot.n_groups_total,
           CAST(coalesce(sum(CASE WHEN s.gmin <= p.hi AND s.gmax >= p.lo
                             THEN 1 END), 0) AS BIGINT) AS n_groups_scanned,
           CAST(coalesce(sum(CASE WHEN s.gmin <= p.hi AND s.gmax >= p.lo
                             THEN s.nr END), 0) AS BIGINT) AS n_rows_scanned,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderkey BETWEEN p.lo AND p.hi) AS n_rows_matching
    FROM probes p, tot LEFT JOIN gstats s ON true
    GROUP BY p.i, p.lo, p.hi, tot.n_groups_total
    """,
)
def maintenance_rowgroup_pruning_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Read the REAL parquet row-group statistics (pyarrow footer
    parse, one task per file) of a key-sorted layout and evaluate
    {_RG_PROBES} key-range probes the way a stats-pruning planner
    does: a row group is scanned iff [gmin, gmax] intersects the
    probe. Emits per probe the admitted group/row counts next to the
    exact matching rows — the IO-amplification ratio a layout audit
    tracks. The fixture pins rows-per-group and within-shard sort
    order, so the oracle recomputes every footer statistic closed-form
    from `orders` (a footer-parse or slicing bug flips a value).

    Scale shape: footer reads are map-only over files (a footer is KBs
    regardless of file size); the probe evaluation joins the
    groups-stats table against a broadcast {_RG_PROBES}-row probe
    grid; the matching counts are one broadcast range-join over
    orders. Nothing corpus-sized ever converges."""
    src = _write_rowgroup_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "orders*.parquet")
        .load(src)
        .select("content")
    )
    groups = blobs.mapInPandas(
        _rowgroup_stats_batches,
        schema="gmin bigint, gmax bigint, n_rows bigint",
    )
    span = F.floor(
        (F.col("kmax") + F.lit(_RG_PROBES - 1)) / F.lit(_RG_PROBES)
    ).cast("long")
    probes = (
        spark.range(_RG_PROBES).withColumnRenamed("id", "i")
        .crossJoin(
            F.broadcast(groups.agg(F.max("gmax").alias("kmax")))
        )
        .select(
            F.col("i").cast("int").alias("probe"),
            (F.lit(1) + F.col("i") * span).cast("long").alias("lo"),
            (
                F.col("i") * span
                + F.greatest(
                    F.floor(span / F.lit(8)).cast("long"), F.lit(1)
                )
            ).cast("long").alias("hi"),
        )
    )
    tot = groups.agg(F.count("*").cast("long").alias("n_groups_total"))
    scanned = (
        groups.crossJoin(F.broadcast(probes))
        .groupBy("probe", "lo", "hi")
        .agg(
            F.sum(
                F.when(
                    (F.col("gmin") <= F.col("hi"))
                    & (F.col("gmax") >= F.col("lo")),
                    1,
                )
            ).cast("long").alias("n_groups_scanned_raw"),
            F.sum(
                F.when(
                    (F.col("gmin") <= F.col("hi"))
                    & (F.col("gmax") >= F.col("lo")),
                    F.col("n_rows"),
                )
            ).cast("long").alias("n_rows_scanned_raw"),
        )
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey")
    matching = (
        orders.join(
            F.broadcast(probes),
            (F.col("o_orderkey") >= F.col("lo"))
            & (F.col("o_orderkey") <= F.col("hi")),
        )
        .groupBy("probe")
        .agg(F.count("*").cast("long").alias("n_rows_matching_raw"))
    )
    return (
        probes.crossJoin(F.broadcast(tot))
        .join(scanned, ["probe", "lo", "hi"], "left")
        .join(matching, "probe", "left")
        .select(
            "probe", "lo", "hi", "n_groups_total",
            F.coalesce("n_groups_scanned_raw", F.lit(0))
            .cast("long").alias("n_groups_scanned"),
            F.coalesce("n_rows_scanned_raw", F.lit(0))
            .cast("long").alias("n_rows_scanned"),
            F.coalesce("n_rows_matching_raw", F.lit(0))
            .cast("long").alias("n_rows_matching"),
        )
    )


# ---------------------------------------------------------------------------
# Raw-reader self-audit (round 15): the from-scratch Parquet reader
# (functions/parquet_raw.py) decodes the engine's OWN input file —
# the real supplier.parquet the driver generated, not a fixture this
# repo wrote — and the oracle recomputes the same aggregate straight
# from the table. Any disagreement between the byte-level decode and
# the relational content every other query sees fails the hash gate:
# the strongest conformance statement the format tier can make.
# ---------------------------------------------------------------------------


def _pq_self_audit_batches(batches):
    import math

    import pandas as pd

    from history_collector_spark.functions.parquet_raw import (
        read_parquet_raw,
    )

    for pdf in batches:
        for blob in pdf["content"]:
            dec = read_parquet_raw(bytes(blob))
            cols = dec["columns"]
            agg: dict[int, list] = {}
            for sk, nat, bal in zip(
                cols["s_suppkey"], cols["s_nationkey"], cols["s_acctbal"]
            ):
                a = agg.setdefault(int(nat), [0, 0, 0])
                a[0] += 1
                a[1] += int(sk)
                a[2] += int(math.floor(bal * 1000000.0 + 0.5))
            yield pd.DataFrame(
                [(n, v[0], v[1], v[2]) for n, v in agg.items()],
                columns=[
                    "s_nationkey", "n_suppliers", "sum_suppkey", "sum_bal_q"
                ],
            )


@register(
    "maintenance_parquet_self_audit",
    oracle="""
    SELECT CAST(s_nationkey AS INT) AS s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(s_suppkey) AS BIGINT) AS sum_suppkey,
           CAST(sum(CAST(floor(s_acctbal * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_bal_q
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def maintenance_parquet_self_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """binaryFile scan of the REAL supplier.parquet -> from-scratch
    parquet decode in the kernel (thrift footer, RLE_DICTIONARY /
    PLAIN pages, snappy decompression through the package's own
    decoder) -> per-nation supplier count, key sum, and
    1e-6-quantized balance sum. The oracle computes the identical
    aggregate through DuckDB's own parquet scan of the same file, so
    the hash gate certifies the from-scratch decode is byte-for-byte
    relationally faithful ON PRODUCTION INPUT, not just on
    self-written fixtures (those are covered by
    corpus_parquet_raw_ingest).

    Scale shape: parallelism is file-granular (one decode task per
    lake file; the dimension file here is one task). PLAIN doubles
    decode bit-exactly, so the quantization arithmetic matches the
    SQL side's floor exactly."""
    blobs = (
        spark.read.format("binaryFile")
        .load(os.path.join(sf_dir, "supplier.parquet"))
        .select("content")
    )
    partials = blobs.mapInPandas(
        _pq_self_audit_batches,
        schema=(
            "s_nationkey int, n_suppliers bigint, "
            "sum_suppkey bigint, sum_bal_q bigint"
        ),
    )
    return partials.groupBy("s_nationkey").agg(
        F.sum("n_suppliers").cast("long").alias("n_suppliers"),
        F.sum("sum_suppkey").cast("long").alias("sum_suppkey"),
        F.sum("sum_bal_q").cast("long").alias("sum_bal_q"),
    )
