"""Table catalog over the driver-provided parquet test tables.

The reference derives all schema truth from one dict shared by DDL and DML
(python/adapters/hc_storage_adapter.py:61-99, python/build_database.py:64-74);
we mirror that with one loader module every query goes through.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Width the dim-indexed DuckDB oracles pin via range(1, 65). Queries that
# posexplode per-dimension MUST read the vector through
# checked_embedding() so a width change fails the job loudly instead of
# silently hash-comparing against a wrong hard-coded-range oracle.
EXPECTED_EMBEDDING_DIMS = 64


def checked_embedding(width: int = EXPECTED_EMBEDDING_DIMS):
    """The ``embedding`` column, width-guarded (map-only, JVM-side).

    Any vector whose length differs from the oracle-pinned width raises
    at scan time. raise_error's NullType coerces into the array branch,
    so the expression stays a plain column — no extra job, no collect.
    """
    return F.when(F.size("embedding") == width, F.col("embedding")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embedding width != {width}, got "),
                F.size("embedding").cast("string"),
            )
        )
    )


# r15 optimization (guide §6 file listing / §1.2 driver-side cost):
# every `spark.read.parquet(path)` pays a DRIVER-side file listing +
# footer schema read (~87 ms measured warm on the test tables), and the
# suite issues well over a thousand table() calls per bench run — the
# dominant share of the flat ~0.5-1 s tail on ~300 cheap queries. Spark
# itself caches listings for CATALOG tables
# (spark.sql.hive.filesourcePartitionFileCacheSize); path-based reads
# get no such cache, so we memoize the analyzed DataFrame per
# (applicationId, sf_dir, table). This caches plan METADATA only —
# every execution still scans the parquet bytes (no result or data
# caching; the no-precompute rule is untouched). Keyed exactly like the
# session pair-table memos; `refresh_tables()` evicts (e.g. if a test
# rewrites a corpus dir in place).
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def refresh_tables(sf_dir: str | None = None) -> None:
    """Evict memoized table frames (all, or one corpus dir's)."""
    if sf_dir is None:
        _TABLE_CACHE.clear()
        return
    for key in [k for k in _TABLE_CACHE if k[1] == sf_dir]:
        del _TABLE_CACHE[key]


def events_ts(df: DataFrame) -> DataFrame:
    """Normalize a raw ``events`` scan's ``ts`` to TimestampType; works
    on batch and streaming frames alike.

    ``events.ts`` has shipped in two physical vintages: INT64
    TIMESTAMP(NANOS) (reads as a plain long under
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain ``timestamp[us]``
    (reads natively as TIMESTAMP_NTZ). We branch on the dtype actually
    inferred from the footer:

    - LongType -> nanos, floor-truncated to microseconds (the same
      truncation DuckDB applies, so oracles agree); integer ``div``
      keeps the conversion exact (double division would round near the
      2^53 mantissa edge);
    - TimestampNTZType -> cast to TIMESTAMP. The session timezone is
      pinned to UTC (session.py), so the cast is a pure type
      reinterpretation — identical instants, zero arithmetic — and every
      downstream query keeps seeing the TimestampType it was verified
      against (unix_micros & co. reject NTZ).
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Column pruning + predicate pushdown are
    Catalyst's job — callers select/filter declaratively and the parquet
    reader sees PushedFilters/ReadSchema. ``events.ts`` comes back as
    TimestampType whichever vintage is on disk (see ``events_ts``).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # harmless when the column is a real timestamp; required to even
        # read the legacy nanos vintage
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = events_ts(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    _TABLE_CACHE[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register all tables as temp views (for the spark.sql query surface)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name + suffix)


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition a scan up to cluster parallelism — but
    ONLY when the scan's natural split count is below it (optimization
    guide §2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    Why it exists: a parquet file is splittable at ROW-GROUP granularity
    only, and the driver's test tables ship as one single-row-group file
    each — so every scan stage, and with it all the narrow-transform /
    explode / n-gram work Catalyst fuses into it, runs as ONE task no
    matter how many cores the session has (measured: bootstrap_mean_ci
    6.5 s -> 2.3 s at sf0.1/local[32] from this one change). Callers
    project the columns they need FIRST (guide §2.3: shuffle narrow
    rows, never derived arrays), then spread, then do the heavy work.

    Scale posture: the partition check is exact (it asks the planned
    scan for its split count), so on a production table with hundreds
    of real splits the condition is false and NO extra exchange is
    added — this is a floor on parallelism for unsplittable inputs, not
    a constant tuned for local mode. The repartition is keyless
    round-robin: deterministic under retry (sortBeforeRepartition stays
    on) and skew-free by construction.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
