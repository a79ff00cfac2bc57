"""Corpus ingest/egest round-trips — the storage boundary of an LLM
data pipeline, driver-checked end-to-end.

- `corpus_jsonl_ingest` — gzipped JSONL is the lingua franca of web
  corpora (Common Crawl derivatives, RedPajama, Dolma all ship it).
  The fixture side writes the `documents` table as .jsonl.gz shards
  plus one deliberately corrupt line; the query reads them back with
  an EXPLICIT schema (no inference pass — at 100 TB schema inference
  is a full extra scan), PERMISSIVE mode routing malformed lines into
  a `_corrupt_record` column instead of failing the job, and returns
  the per-source accounting of good vs corrupt rows. The DuckDB
  oracle reproduces the good-row side straight from `documents`.

- `sink_partitioned_roundtrip` — writes documents as parquet
  PARTITIONED BY lang (the layout a curated corpus lands in: partition
  columns carry the predicate, so a per-language read touches only its
  directory), then reads one language back. The read plan must show
  partition PRUNING — asserted by tests/test_plan_guards-style check
  in tests (PartitionFilters, not a post-scan filter); the oracle is a
  plain WHERE lang = .. over `documents`.

Scale notes: every fixture is built once per (session, corpus) by a
``scratch.per_session`` builder, and ``spark.stop()`` deletes it. The
write path itself is the distributed `df.write` (one task per shuffle
partition, no driver materialization). Reading JSONL with an explicit
schema and PERMISSIVE corrupt capture is scan-parallel; the corrupt
column prunes away when unselected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from history_collector_spark.catalog import spread, table
from history_collector_spark.functions.nlp import md5_hash32
from history_collector_spark.registry import register
from history_collector_spark.scratch import per_session, scratch_dir

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

_N_BAD = 3  # corrupt fixture lines injected per corpus


@per_session
def _write_jsonl_fixture(spark: SparkSession, sf_dir: str) -> str:
    """``good``: the gzipped JSONL shards plus the corrupt one;
    ``bronze``: their full PERMISSIVE parse, landed as parquet."""
    out = scratch_dir("hc_jsonl_")
    docs = table(spark, sf_dir, "documents")
    # Distributed write: one gzip JSON shard per partition.
    docs.repartition(4, "doc_id").write.mode("overwrite").option(
        "compression", "gzip"
    ).json(os.path.join(out, "good"))
    # The corrupt shard: truncated JSON, a bare string, and a record
    # with the wrong type for doc_id — all must land in _corrupt_record.
    bad_dir = os.path.join(out, "good")
    with open(os.path.join(bad_dir, "part-bad.json"), "w") as f:
        f.write('{"doc_id": 1, "text": "trunc\n')
        f.write('"just a string"\n')
        f.write('{"doc_id": "not-a-number", "text": "x", "lang": "en", '
                '"source": "srcbad", "n_chars": 1}\n')
    raw = (
        spark.read.schema(_DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(os.path.join(out, "good"))
    )
    # The write references every field, so the parse is unpruned
    # and the corrupt column is authoritative.
    raw.write.mode("overwrite").parquet(os.path.join(out, "bronze"))
    return out


@register(
    "corpus_jsonl_ingest",
    oracle="""
    SELECT source,
           CAST(count(*) AS INT) AS good_rows,
           CAST(0 AS INT) AS corrupt_rows,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    UNION ALL
    SELECT '__corrupt__' AS source,
           CAST(0 AS INT) AS good_rows,
           CAST(3 AS INT) AS corrupt_rows,
           CAST(0 AS BIGINT) AS total_chars
    """,
)
def corpus_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL.gz corpus read with explicit schema + corrupt-line routing,
    landed to a bronze parquet layer before being queried.

    Reference analogue: the gzip archive ingestion boundary
    (python/main.py:241-266 downloads+decompresses before parsing);
    here the malformed-input policy is declarative (PERMISSIVE) rather
    than a try/except per file.

    The land-then-query split is not incidental: Spark's JSON scan
    re-parses per referenced column set, so `_corrupt_record` is only
    meaningful on a MATERIALIZED parse (the reader rejects
    corrupt-only projections outright and column pruning silently
    changes which records count as corrupt — a type error in an
    unreferenced field is no longer an error). Landing the full parse
    once (distributed write, one task per input split) freezes the
    corrupt verdict; every downstream query then reads columnar
    bronze, which is also the right 100 TB shape — JSON is parsed
    exactly once, not per query.
    """
    bronze = os.path.join(_write_jsonl_fixture(spark, sf_dir), "bronze")
    labeled = spark.read.parquet(bronze).select(
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("__corrupt__"))
        .otherwise(F.col("source"))
        .alias("source"),
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
        F.col("n_chars"),
    )
    return labeled.groupBy("source").agg(
        F.sum((~F.col("is_corrupt")).cast("int")).cast("int").alias("good_rows"),
        F.sum(F.col("is_corrupt").cast("int")).cast("int").alias("corrupt_rows"),
        F.coalesce(
            F.sum(F.when(~F.col("is_corrupt"), F.col("n_chars"))), F.lit(0)
        ).alias("total_chars"),
    )


@per_session
def _write_evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet vintages of the same logical table: v1 (doc_id %
    2 = 0) without the quality column, v2 (doc_id % 2 = 1) WITH it —
    the schema drift every long-lived corpus accumulates."""
    out = scratch_dir("hc_schevo_")
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(
        os.path.join(out, "data", "vintage=v1")
    )
    docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality", (F.col("doc_id") % 100) / F.lit(100.0)
    ).write.mode("overwrite").parquet(os.path.join(out, "data", "vintage=v2"))
    return out


@register(
    "schema_evolution_roundtrip",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_quality,
           avg(CASE WHEN doc_id % 2 = 1
                    THEN (doc_id % 100) / 100.0 END) AS avg_quality
    FROM documents
    GROUP BY source
    """,
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a table whose parquet files span two schema vintages (a
    later vintage added a `quality` column) with mergeSchema=true —
    the schema-evolution read path a lakehouse table needs — and
    report the per-source fill rate of the new column. Old-vintage
    rows surface quality as NULL, never as a read error.

    Scale shape: mergeSchema reconciles footers at planning time (no
    data pass); the query itself is one scan into a source-cardinality
    map-side-combined aggregate. The fixture is written once per
    corpus, exactly like the JSONL fixture."""
    src = _write_evolution_fixture(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(src, "data")
    )
    return merged.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("quality").isNotNull().cast("int")).alias("n_with_quality"),
        F.avg("quality").alias("avg_quality"),
    )


@per_session
def _write_lang_parts(spark: SparkSession, sf_dir: str) -> str:
    """``documents`` landed lang-partitioned under ``parquet``."""
    out = scratch_dir("hc_parts_")
    table(spark, sf_dir, "documents").write.mode("overwrite").partitionBy(
        "lang"
    ).parquet(os.path.join(out, "parquet"))
    return out


@register(
    "sink_partitioned_roundtrip",
    oracle="""
    SELECT doc_id, text, source, n_chars, 'de' AS lang
    FROM documents WHERE lang = 'de'
    """,
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink partitioned by lang, read back with partition pruning.

    The WHERE lang='de' predicate resolves against the DIRECTORY layout
    (PartitionFilters in the scan), so a 100 TB corpus read for one
    language lists one partition's files and scans nothing else.
    """
    back = spark.read.parquet(
        os.path.join(_write_lang_parts(spark, sf_dir), "parquet")
    )
    return back.filter(F.col("lang") == "de").select(
        "doc_id", "text", "source", "n_chars", "lang"
    )


@register(
    "merge_upsert_roundtrip",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey < 2048
    ),
    source AS (
      SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey < 2048 AND o_orderkey % 4 = 0
      UNION ALL
      SELECT o_orderkey + 1000000, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey < 64
    )
    SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           coalesce(s.o_custkey, t.o_custkey) AS o_custkey,
           coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice
    FROM target t FULL OUTER JOIN source s
      ON t.o_orderkey = s.o_orderkey
    """,
)
def merge_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) without a table format: target snapshot
    FULL OUTER JOIN the change set, source wins per column, result
    written back and re-read — the copy-on-write merge a parquet lake
    runs when no Delta/Iceberg transaction log is available.

    Scale notes: the join shuffles on the merge key (high-cardinality,
    unskewed); with the bucketed landing of bucketed_join_roundtrip the
    rewrite becomes bucket-local. Copy-on-write rewrites only the
    files whose buckets the change set touches — the change-set side is
    usually broadcast-sized, but correctness never depends on that.
    """
    target = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2048)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    updates = (
        table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") < 2048) & (F.col("o_orderkey") % 4 == 0))
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
    )
    inserts = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 64)
        .select(
            (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
        )
    )
    source = updates.unionByName(inserts)

    t = target.alias("t")
    s = source.alias("s")
    merged = t.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full").select(
        F.coalesce(F.col("s.o_orderkey"), F.col("t.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.coalesce(F.col("s.o_custkey"), F.col("t.o_custkey")).alias(
            "o_custkey"
        ),
        F.coalesce(F.col("s.o_totalprice"), F.col("t.o_totalprice")).alias(
            "o_totalprice"
        ),
    )
    out = os.path.join(scratch_dir("hc_merge_"), "merged")
    merged.write.parquet(out)
    return spark.read.parquet(out)


# ---------------------------------------------------------------------------
# Multi-format roundtrip digest: the same corpus written to ORC and
# quoted CSV.gz, read back, and checksummed against the parquet
# original — the lossless-ness proof for every landing format the
# engine claims to support.
# ---------------------------------------------------------------------------


@per_session
def _write_multiformat_fixture(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("hc_multifmt_")
    docs = table(spark, sf_dir, "documents")
    docs.repartition(4, "doc_id").write.mode("overwrite").orc(
        os.path.join(out, "orc")
    )
    # quoted CSV with escaped quotes + multiLine covers embedded
    # delimiters/newlines in text — the fields that break naive CSV
    docs.repartition(4, "doc_id").write.mode("overwrite").option(
        "compression", "gzip"
    ).option("header", "true").option("quoteAll", "true").option(
        "escape", '"'
    ).csv(os.path.join(out, "csv"))
    return out


@register(
    "corpus_multiformat_digest",
    oracle="""
    WITH digest AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8))
                      AS BIGINT)) AS BIGINT) AS text_digest
      FROM documents
    )
    SELECT fmt, n_rows, sum_doc_id, sum_chars, text_digest
    FROM digest, (SELECT unnest(['csv', 'orc']) AS fmt) f
    """,
)
def corpus_multiformat_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents corpus to ORC and quoted CSV.gz (distributed,
    one shard per partition), read each back, and emit per-format
    integer digests (row count, key sums, md5-prefix text checksum)
    that the oracle recomputes from the PARQUET original — equal rows
    prove the roundtrip lost nothing, including text with embedded
    quotes/newlines through the CSV quoting rules.

    Scale shape: fixture writes are distributed and memoized per
    sf_dir; the digest is one map-side-combined aggregate per format
    (all-integer outputs, bit-exact). This closes the format matrix
    next to parquet (native), JSONL.gz (corpus_jsonl_ingest), and the
    XDR archive source."""
    src = _write_multiformat_fixture(spark, sf_dir)
    text_digest = F.sum(
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
    ).alias("text_digest")

    def digest(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("n_chars").alias("sum_chars"),
            text_digest,
        ).select(F.lit(fmt).alias("fmt"), "*")

    orc = spark.read.orc(os.path.join(src, "orc"))
    csv = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(os.path.join(src, "csv"))
    )
    return digest(csv, "csv").unionByName(digest(orc, "orc"))


# ---------------------------------------------------------------------------
# Dynamic partition overwrite: replace ONE partition of a partitioned
# table in place without touching its siblings — the idempotent
# partition-level backfill primitive every lakehouse reprocess relies
# on (static overwrite mode would silently DROP the other partitions).
# ---------------------------------------------------------------------------


@per_session
def _write_dpo_fixture(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("hc_dpo_")
    tbl = os.path.join(out, "tbl")
    docs = table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(tbl)
    # the backfill: rewrite ONLY lang=de with the even-doc_id subset,
    # under dynamic mode so sibling partitions survive the overwrite
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            docs.filter((F.col("lang") == "de") & (F.col("doc_id") % 2 == 0))
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(tbl)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    return out


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
    FROM documents
    WHERE lang != 'de' OR doc_id % 2 = 0
    GROUP BY lang
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land the corpus lang-partitioned, then overwrite ONLY the
    lang=de partition with its even-doc_id backfill under
    partitionOverwriteMode=dynamic; the readback proves de was
    replaced while every sibling partition kept its full contents
    (static mode would have dropped them — the classic data-loss
    foot-gun this mode exists to prevent). The oracle states the
    post-backfill table directly from the source of truth.

    Scale shape: both writes are distributed partitioned writes; the
    readback aggregate is bounded-key. Fixture memoized per sf_dir.
    """
    tbl = os.path.join(_write_dpo_fixture(spark, sf_dir), "tbl")
    return (
        spark.read.parquet(tbl)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
    )


@per_session
def _write_tier_dim(spark: SparkSession, sf_dir: str) -> str:
    """The (lang, tier) dim under ``dim``: tiers derive from md5(lang)."""
    out = scratch_dir("hc_tierdim_")
    tier = F.when(
        F.conv(F.substring(F.md5(F.col("lang")), 1, 8), 16, 10)
        .cast("long") % 2
        == 0,
        "hot",
    ).otherwise("cold")
    (
        table(spark, sf_dir, "documents")
        .select("lang")
        .distinct()
        .select("lang", tier.alias("tier"))
        .write.mode("overwrite")
        .parquet(os.path.join(out, "dim"))
    )
    return out


@register(
    "sink_dpp_join_prune",
    oracle="""
    WITH dim AS (
      SELECT lang,
             CASE WHEN CAST(concat('0x', substr(md5(lang), 1, 8)) AS BIGINT)
                       % 2 = 0
                  THEN 'hot' ELSE 'cold' END AS tier
      FROM (SELECT DISTINCT lang FROM documents)
    )
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN dim ON d.lang = dim.lang
    WHERE dim.tier = 'hot'
    GROUP BY d.lang
    """,
)
def sink_dpp_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning over the lang-partitioned sink: the
    fact is read through a join to a dim TABLE filtered on a NON-join
    column (tier = 'hot'), so the surviving langs are only knowable at
    run time — static pruning cannot apply (a literal lang filter
    would be constraint-propagated instead, which is why the dim
    filter is deliberately on tier). Spark injects a dynamicpruning
    subquery into the fact scan's PartitionFilters: at 100 TB the
    fact side lists and reads only the hot langs' directories. The
    plan guard (test_dpp_join_prunes_partitions) asserts the
    dynamicpruning expression appears in the executed scan; this
    query asserts the semantics against the oracle.

    Fixtures (built once per corpus, shared with
    sink_partitioned_roundtrip): the lang-partitioned fact and a
    (lang, tier) dim parquet whose tiers derive deterministically from
    md5(lang) — mirrored in the oracle's CASE.

    Reference scope: the reference rewrites whole tables per batch
    (python/adapters); partition-pruned serving layouts are the
    extension tier.
    """
    fact = spark.read.parquet(
        os.path.join(_write_lang_parts(spark, sf_dir), "parquet")
    )
    dim = spark.read.parquet(
        os.path.join(_write_tier_dim(spark, sf_dir), "dim")
    ).filter(F.col("tier") == "hot")
    return (
        fact.join(F.broadcast(dim), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_CODECS = ("snappy", "gzip", "zstd")


@per_session
def _write_codec_landings(spark: SparkSession, sf_dir: str) -> str:
    """``documents`` landed once per codec, under the codec's name."""
    out = scratch_dir("hc_codecs_")
    docs = table(spark, sf_dir, "documents")
    for codec in _CODECS:
        docs.write.option("compression", codec).parquet(os.path.join(out, codec))
    return out


@register(
    "maintenance_compression_codecs",
    oracle="""
    WITH h AS (
      SELECT CAST(concat('0x', substr(md5(concat_ws('|',
               doc_id, lang, source, n_chars, text)), 1, 8)) AS BIGINT) AS rh
      FROM documents
    ),
    d AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(rh) AS BIGINT) AS digest_sum,
             CAST(bit_xor(rh) AS BIGINT) AS digest_xor
      FROM h
    )
    SELECT c.codec, d.n_rows, d.digest_sum, d.digest_xor
    FROM (SELECT unnest(['snappy', 'gzip', 'zstd']) AS codec) c, d
    """,
)
def maintenance_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the corpus under each parquet compression codec (snappy /
    gzip / zstd), read each landing back, and emit its
    order-independent content digest — all three rows must carry the
    SAME digest as the source table (which is exactly what the oracle
    states), proving the codec roundtrips are lossless. The codec
    choice is a pure storage/IO trade at 100 TB (zstd ~30-50% smaller
    than snappy at similar scan speed) and must never be a correctness
    variable; this query pins that.

    Scale shape: three map-only writes + three scan-and-digest passes,
    each a map-side-combined 1-row aggregate (the digest idiom of
    table_content_digest — 32-bit row hashes, sum/xor commutative).
    Fixtures build once per corpus.
    """
    out = _write_codec_landings(spark, sf_dir)
    rh = md5_hash32(
        F.concat_ws(
            "|",
            F.col("doc_id"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars"),
            F.col("text"),
        )
    )
    parts = []
    for codec in _CODECS:
        back = spark.read.parquet(os.path.join(out, codec))
        parts.append(
            back.select(rh.alias("rh")).agg(
                F.count("*").alias("n_rows"),
                F.sum("rh").alias("digest_sum"),
                F.expr("bit_xor(rh)").alias("digest_xor"),
            ).select(F.lit(codec).alias("codec"), "*")
        )
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


# ---------------------------------------------------------------------------
# WARC ingestion: the container web crawls actually ship in. The
# fixture writes 4 shards — 2 plain .warc, 2 multi-member .warc.gz —
# each led by a warcinfo record the parser must carry and the query
# must SKIP (only `response` records are corpus payload). The oracle
# recomputes every aggregate closed-form from `documents`, so framing
# bugs (header parse, Content-Length arithmetic, gzip member joins,
# record-type routing) flip a value.
# ---------------------------------------------------------------------------


@per_session
def _write_warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    from history_collector_spark.sources.warc import write_warc

    out = scratch_dir("hc_warc_")

    # distributed archiver (round 13): each shard group builds and
    # writes its own .warc(.gz) inside its task — `documents` never
    # lands on the driver, so sf10 probes of the ingest measure the
    # parser, not this scaffolding
    def _emit(key, pdf):
        import pandas as pd

        k = int(key[0])
        pdf = pdf.sort_values("doc_id")
        recs = [{
            "warc_type": "warcinfo",
            "uri": f"file://shard{k}",
            "date": "2024-01-01T00:00:00Z",
            "payload": b"software: hc-fixture\r\n",
        }]
        recs += [
            {
                "warc_type": "response",
                "uri": f"http://corpus.example/{r.source}/{r.doc_id}",
                "date": "2024-01-01T00:00:00Z",
                "payload": r.text.encode("utf-8"),
            }
            for r in pdf.itertuples()
        ]
        gz = k % 2 == 1
        blob = write_warc(recs, gzip_members=gz)
        name = f"shard{k}.warc" + (".gz" if gz else "")
        path = os.path.join(out, name)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame([(k, len(blob))], columns=["shard", "n"])

    (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "source", "text")
        # even ids mod 4 would only ever hit shards {0, 2} and the
        # two .warc.gz shards (odd k) would never materialize —
        # (doc_id/2) % 4 populates all four
        .withColumn("shard", F.expr("(doc_id div 2) % 4"))
        .repartition(4, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _warc_batches(batches):
    import hashlib

    import pandas as pd

    from history_collector_spark.sources.warc import parse_warc

    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            for rec in parse_warc(bytes(blob)):
                if rec["warc_type"] != "response":
                    continue
                parts = rec["uri"].rsplit("/", 2)
                rows.append(
                    (
                        parts[-2],
                        int(parts[-1]),
                        len(rec["payload"]),
                        int(
                            hashlib.md5(rec["payload"]).hexdigest()[:8],
                            16,
                        ),
                    )
                )
        yield pd.DataFrame(
            rows, columns=["source", "doc_id", "n_bytes", "h32"]
        )


@register(
    "corpus_warc_ingest",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(octet_length(encode(text))) AS BIGINT)
             AS payload_bytes,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8))
                AS BIGINT)) AS BIGINT) AS digest_sum,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM documents WHERE doc_id % 2 = 0
    GROUP BY source
    """,
)
def corpus_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of the WARC shards -> Arrow-batched framing
    parser (plain + multi-member gzip) -> response-record payload
    aggregates per source, equal to the closed-form recomputation from
    `documents`. Scale shape: each WARC shard parses independently in
    its task (binaryFile gives one row per file; real crawls shard at
    ~1GB so per-task memory is one shard), aggregation is a small
    per-source combine — the standard crawl-ingest topology.
    """
    src = _write_warc_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard*.warc*")
        .load(src)
        .select("content")
    )
    recs = blobs.mapInPandas(
        _warc_batches,
        schema="source string, doc_id bigint, n_bytes bigint, h32 bigint",
    )
    return recs.groupBy("source").agg(
        F.count("*").alias("n_records"),
        F.sum("n_bytes").alias("payload_bytes"),
        F.sum("h32").alias("digest_sum"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# TAR ingestion: USTAR shards of the odd-doc half (the WARC query
# covers the even half, so together the two container paths cover the
# corpus). Framing is the from-scratch parser in sources/tarball.py,
# cross-validated against stdlib tarfile in the test suite.
# ---------------------------------------------------------------------------


@per_session
def _write_tar_fixture(spark: SparkSession, sf_dir: str) -> str:
    from history_collector_spark.sources.tarball import write_tar

    out = scratch_dir("hc_tar_")

    # distributed archiver (round 13) — same per-shard task emit as
    # the WARC/codec writers; no driver materialization
    def _emit(key, pdf):
        import pandas as pd

        k = int(key[0])
        pdf = pdf.sort_values("doc_id")
        files = [
            (f"{r.source}/{r.doc_id}.txt", r.text.encode("utf-8"))
            for r in pdf.itertuples()
        ]
        path = os.path.join(out, f"shard{k}.tar")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(write_tar(files))
        os.replace(tmp, path)
        return pd.DataFrame([(k, len(files))], columns=["shard", "n"])

    (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "source", "text")
        .withColumn("shard", F.col("doc_id") % 3)
        .repartition(3, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _tar_batches(batches):
    import hashlib

    import pandas as pd

    from history_collector_spark.sources.tarball import parse_tar

    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            for name, payload in parse_tar(bytes(blob)):
                source, fname = name.rsplit("/", 1)
                rows.append(
                    (
                        source,
                        int(fname.removesuffix(".txt")),
                        len(payload),
                        int(hashlib.md5(payload).hexdigest()[:8], 16),
                    )
                )
        yield pd.DataFrame(
            rows, columns=["source", "doc_id", "n_bytes", "h32"]
        )


@register(
    "corpus_tar_ingest",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(octet_length(encode(text))) AS BIGINT)
             AS payload_bytes,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8))
                AS BIGINT)) AS BIGINT) AS digest_sum,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM documents WHERE doc_id % 2 = 1
    GROUP BY source
    """,
)
def corpus_tar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of USTAR shards -> Arrow-batched from-scratch
    framing (checksum-validated 512-byte headers) -> per-source
    payload aggregates equal to the closed-form oracle. Same
    one-shard-per-task topology as corpus_warc_ingest."""
    src = _write_tar_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard*.tar")
        .load(src)
        .select("content")
    )
    recs = blobs.mapInPandas(
        _tar_batches,
        schema="source string, doc_id bigint, n_bytes bigint, h32 bigint",
    )
    return recs.groupBy("source").agg(
        F.count("*").alias("n_records"),
        F.sum("n_bytes").alias("payload_bytes"),
        F.sum("h32").alias("digest_sum"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Streaming WARC ingest: the production shape of crawl ingestion —
# shards LAND over time and each micro-batch parses only its new
# files. Same framing parser, same closed-form oracle as the batch
# query; equality proves the incremental ingest loses/duplicates
# nothing vs. the batch read (the streaming_ingest_e2e discipline
# applied to the web-crawl container).
# ---------------------------------------------------------------------------


@register(
    "streaming_warc_ingest_e2e",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(octet_length(encode(text))) AS BIGINT)
             AS payload_bytes,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8))
                AS BIGINT)) AS BIGINT) AS digest_sum
    FROM documents WHERE doc_id % 2 = 0
    GROUP BY source
    """,
)
def streaming_warc_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC shards consumed as a binaryFile STREAM (one shard per
    micro-batch), Arrow-parsed in flight, landed append-only; the
    post-stream per-source aggregate must equal the batch closed-form
    truth. Scale: this is the ingest loop a crawl pipeline runs
    forever — per-batch work is one shard's parse, checkpointing is
    the file-source offset log, and nothing rescans old shards."""
    from history_collector_spark.streaming.conf import drain_to_memory

    src = _write_warc_fixture(spark, sf_dir)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "shard*.warc*")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .select("content")
    )
    recs = stream.mapInPandas(
        _warc_batches,
        schema="source string, doc_id bigint, n_bytes bigint, h32 bigint",
    )
    return drain_to_memory(recs).groupBy("source").agg(
        F.count("*").alias("n_records"),
        F.sum("n_bytes").alias("payload_bytes"),
        F.sum("h32").alias("digest_sum"),
    )


# ---------------------------------------------------------------------------
# LZ4-framed JSONL ingest (round 11): the .jsonl.lz4 shard layout
# several large public corpora ship — framed by the from-scratch LZ4
# codec (functions/lz4.py: block format, frame format, xxh32
# checksums), decoded in-kernel with per-shard graceful degradation.
# ---------------------------------------------------------------------------

_LZ4_DOCS_PER_SHARD = 2500
_LZ4_MIN_SHARDS = 4


def _write_codec_shards(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    ext: str,
    encode,
    tear,
) -> str:
    """Distributed JSONL-shard fixture writer shared by the LZ4 /
    Snappy / zstd ingest queries: each task compresses and writes its
    own shard file; only tiny (shard, n_bytes) rows return to the
    driver. Replaces the former driver-side ``collect()`` of the whole
    documents table (round-11 verdict: at sf10-probe scale the
    materialization, not the operator, dominated) with ONE Spark job —
    the ``streaming/replay.py`` idiom applied to binary shards.

    Shard membership (doc_id % n_shards, ascending doc_id within a
    shard) and the torn-shard contract (``tear`` mangles shard 0) are
    byte-identical to the old writers, so every oracle is unchanged.
    Shard COUNT scales with the corpus (the html-fixture lesson:
    pinned shard counts hide a 10x-work-per-task cliff at 10x data).
    """
    out = scratch_dir(f"hc_{kind}_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_shards = max(
        _LZ4_MIN_SHARDS, -(-docs.count() // _LZ4_DOCS_PER_SHARD)
    )

    def _emit(key, pdf):
        import json as _json

        import pandas as pd

        shard = int(key[0])
        pdf = pdf.sort_values("doc_id")
        lines = [
            _json.dumps(
                {
                    "doc_id": int(r.doc_id),
                    "source": r.source,
                    "text": r.text,
                }
            )
            for r in pdf.itertuples()
        ]
        blob = encode(("\n".join(lines) + "\n").encode("utf-8"))
        if shard == 0:
            blob = tear(blob)
        path = os.path.join(out, f"docs{shard:03d}.jsonl.{ext}")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame([(shard, len(blob))], columns=["shard", "n"])

    (
        docs.withColumn("shard", F.col("doc_id") % n_shards)
        .repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _lz4_encode(raw: bytes) -> bytes:
    from history_collector_spark.functions.lz4 import compress_frame

    return compress_frame(raw)


def _half_cut(blob: bytes) -> bytes:
    # safe for LZ4: the frame ends with an end mark + content
    # checksum, so ANY proper prefix fails to decode
    return blob[: len(blob) // 2]


@per_session
def _write_lz4_fixture(spark: SparkSession, sf_dir: str) -> str:
    return _write_codec_shards(
        spark, sf_dir, "lz4jsonl", "lz4", _lz4_encode, _half_cut
    )


def _lz4_ingest_batches(batches):
    import json as _json

    import pandas as pd

    from history_collector_spark.functions.lz4 import (
        Lz4DecodeError,
        decode_lz4_frame,
    )

    for pdf in batches:
        agg: dict[str, list] = {}
        for blob in pdf["content"]:
            try:
                raw = decode_lz4_frame(bytes(blob))
            except Lz4DecodeError:
                a = agg.setdefault("__error__", [0, 0])
                a[0] += 1
                continue
            for line in raw.decode("utf-8").splitlines():
                d = _json.loads(line)
                a = agg.setdefault(d["source"], [0, 0])
                a[0] += 1
                a[1] += len(d["text"])
        yield pd.DataFrame(
            [(s, v[0], v[1]) for s, v in agg.items()],
            columns=["source", "n_docs", "total_chars"],
        )


@register(
    "corpus_lz4_ingest",
    # the torn shard (k=0, truncated mid-frame) must surface as ONE
    # error row and lose exactly the doc_id % n_shards == 0 documents;
    # n_shards is itself closed-form from the corpus size
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_lz4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of .jsonl.lz4 shards -> in-kernel LZ4 frame
    decode (from-scratch codec, xxh32 header+content checksums
    verified) + JSON-lines parse -> per-source document counts and
    char totals, pre-aggregated INSIDE the kernel so only (source,
    count, chars) partials leave each task. One deterministically
    torn shard (truncated mid-frame) must degrade to a single
    '__error__' row — the task never dies — and its documents drop
    from every per-source total, which the oracle states closed-form
    from doc_id arithmetic.

    Scale shape: shard count grows with the corpus (one task per
    shard), decode+parse is map-only, and the only exchange is the
    final tiny per-source aggregate."""
    src = _write_lz4_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.jsonl.lz4")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _lz4_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Framed-Snappy JSONL ingest (round 11): the Hadoop-ecosystem default
# codec, through the from-scratch snappy.py (block format, framing,
# masked CRC32C) — same shard layout / torn-shard contract / closed-
# form oracle as the LZ4 twin above.
# ---------------------------------------------------------------------------


def _snappy_encode(raw: bytes) -> bytes:
    from history_collector_spark.functions.snappy import compress_frame

    return compress_frame(raw)


def _snappy_tear(blob: bytes) -> bytes:
    # Snappy framing has no end-of-stream marker, so a cut landing
    # exactly on a chunk boundary decodes cleanly as a short prefix
    # and the oracle's __error__ row never appears — nudge the cut
    # until the truncation provably lands mid-chunk and decode raises.
    from history_collector_spark.functions.snappy import (
        SnappyDecodeError,
        decode_snappy_frame,
    )

    cut = len(blob) // 2
    while cut > 1:
        try:
            decode_snappy_frame(blob[:cut])
        except SnappyDecodeError:
            break
        cut -= 1
    return blob[:cut]


@per_session
def _write_snappy_fixture(spark: SparkSession, sf_dir: str) -> str:
    return _write_codec_shards(
        spark, sf_dir, "snappyjsonl", "snappy", _snappy_encode, _snappy_tear
    )


def _snappy_ingest_batches(batches):
    import json as _json

    import pandas as pd

    from history_collector_spark.functions.snappy import (
        SnappyDecodeError,
        decode_snappy_frame,
    )

    for pdf in batches:
        agg: dict[str, list] = {}
        for blob in pdf["content"]:
            try:
                raw = decode_snappy_frame(bytes(blob))
            except SnappyDecodeError:
                a = agg.setdefault("__error__", [0, 0])
                a[0] += 1
                continue
            for line in raw.decode("utf-8").splitlines():
                d = _json.loads(line)
                a = agg.setdefault(d["source"], [0, 0])
                a[0] += 1
                a[1] += len(d["text"])
        yield pd.DataFrame(
            [(s, v[0], v[1]) for s, v in agg.items()],
            columns=["source", "n_docs", "total_chars"],
        )


@register(
    "corpus_snappy_ingest",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_snappy_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of framed-Snappy JSONL shards -> in-kernel
    frame decode (stream identifier + per-chunk masked CRC32C
    verified) + JSON-lines parse, pre-aggregated per shard. One torn
    shard degrades to a single '__error__' row; its document loss is
    closed-form from doc_id arithmetic. Completes the compression
    matrix next to gzip (corpus_jsonl_ingest) and LZ4
    (corpus_lz4_ingest) with identical contracts, so the three rows
    are directly comparable in the bench.

    Scale shape: shard count grows with the corpus, decode+parse is
    map-only, the only exchange is the tiny per-source aggregate."""
    src = _write_snappy_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.jsonl.snappy")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _snappy_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Zstd JSONL ingest (round 12): the codec public web corpora actually
# ship (Common-Crawl-derived corpora distribute .jsonl.zst shards),
# through the from-scratch RFC 8878 decoder (functions/zstd.py: FSE,
# Huffman, sequences, xxh64 checksum). Fixtures are compressed with
# the REAL libzstd (pyarrow's bundled codec, level 3), so the ingest
# exercises our decoder against reference-encoder output — not a
# round-trip of our own store mode. Same shard layout / torn-shard
# contract / closed-form oracle as the LZ4 and Snappy twins above.
# ---------------------------------------------------------------------------


def _zstd_encode(raw: bytes) -> bytes:
    from pyarrow import Codec

    return Codec("zstd", compression_level=3).compress(raw, asbytes=True)


def _zstd_tear(blob: bytes) -> bytes:
    # zstd frames carry a content size and a last-block flag, so a
    # truncation essentially always raises — but nudge like the
    # Snappy twin so the property is checked, not assumed.
    from history_collector_spark.functions.zstd import (
        ZstdDecodeError,
        decompress,
    )

    cut = len(blob) // 2
    while cut > 1:
        try:
            decompress(blob[:cut])
        except ZstdDecodeError:
            break
        cut -= 1
    return blob[:cut]


@per_session
def _write_zstd_fixture(spark: SparkSession, sf_dir: str) -> str:
    return _write_codec_shards(
        spark, sf_dir, "zstdjsonl", "zst", _zstd_encode, _zstd_tear
    )


def _zstd_ingest_batches(batches):
    import json as _json

    import pandas as pd

    from history_collector_spark.functions.zstd import (
        ZstdDecodeError,
        decompress,
    )

    for pdf in batches:
        agg: dict[str, list] = {}
        for blob in pdf["content"]:
            try:
                raw = decompress(bytes(blob))
            except ZstdDecodeError:
                a = agg.setdefault("__error__", [0, 0])
                a[0] += 1
                continue
            for line in raw.decode("utf-8").splitlines():
                d = _json.loads(line)
                a = agg.setdefault(d["source"], [0, 0])
                a[0] += 1
                a[1] += len(d["text"])
        yield pd.DataFrame(
            [(s, v[0], v[1]) for s, v in agg.items()],
            columns=["source", "n_docs", "total_chars"],
        )


@register(
    "corpus_zstd_ingest",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_zstd_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of .jsonl.zst shards -> in-kernel RFC 8878
    zstd frame decode (FSE + Huffman + sequence execution, frame
    content size verified) + JSON-lines parse, pre-aggregated per
    shard so only (source, count, chars) partials leave each task.
    The shards are REAL libzstd output, so this is a
    reference-encoder interop check on every run, not a self
    round-trip. One torn shard degrades to a single '__error__' row;
    its document loss is closed-form from doc_id arithmetic. This
    completes the compression matrix — gzip, LZ4, Snappy, zstd — with
    identical contracts, directly comparable in the bench.

    Scale shape: shard count grows with the corpus (one task per
    shard), decode+parse is map-only, the only exchange is the tiny
    per-source aggregate."""
    src = _write_zstd_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.jsonl.zst")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _zstd_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# bzip2 JSONL ingest (round 13): the public-data-dump codec —
# Wikipedia dumps, academic corpora and older crawl slices ship as
# .bz2 — through the from-scratch decoder in functions/bzip2.py
# (Huffman groups + selectors, MTF, RLE2 zero runs, inverse BWT,
# RLE1, both CRC layers). Shards are REAL stdlib-bz2 (libbz2) output,
# so every run is a reference-encoder interop check. Same shard
# layout / torn-shard contract / closed-form oracle as the other
# compression-matrix twins.
# ---------------------------------------------------------------------------


def _bzip2_encode(raw: bytes) -> bytes:
    import bz2

    return bz2.compress(raw, 9)


def _bzip2_tear(blob: bytes) -> bytes:
    # both CRC layers make a mid-stream cut essentially always fail,
    # but nudge like the other twins so the property is checked
    from history_collector_spark.functions.bzip2 import (
        Bzip2DecodeError,
        decompress_bz2,
    )

    cut = len(blob) // 2
    while cut > 1:
        try:
            decompress_bz2(blob[:cut])
        except Bzip2DecodeError:
            break
        cut -= 1
    return blob[:cut]


@per_session
def _write_bzip2_fixture(spark: SparkSession, sf_dir: str) -> str:
    return _write_codec_shards(
        spark, sf_dir, "bz2jsonl", "bz2", _bzip2_encode, _bzip2_tear
    )


def _bzip2_ingest_batches(batches):
    import json as _json

    import pandas as pd

    from history_collector_spark.functions.bzip2 import (
        Bzip2DecodeError,
        decompress_bz2,
    )

    for pdf in batches:
        agg: dict[str, list] = {}
        for blob in pdf["content"]:
            try:
                raw = decompress_bz2(bytes(blob))
            except Bzip2DecodeError:
                a = agg.setdefault("__error__", [0, 0])
                a[0] += 1
                continue
            for line in raw.decode("utf-8").splitlines():
                d = _json.loads(line)
                a = agg.setdefault(d["source"], [0, 0])
                a[0] += 1
                a[1] += len(d["text"])
        yield pd.DataFrame(
            [(s, v[0], v[1]) for s, v in agg.items()],
            columns=["source", "n_docs", "total_chars"],
        )


@register(
    "corpus_bzip2_ingest",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_bzip2_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of .jsonl.bz2 shards -> in-kernel from-scratch
    bzip2 decode (Huffman group switching, MTF, RLE2, inverse BWT,
    RLE1, block + stream CRCs verified) + JSON-lines parse,
    pre-aggregated per shard so only (source, count, chars) partials
    leave each task. Shards are REAL libbz2 output (stdlib bz2), so
    this is a reference-encoder interop gate on every run. One torn
    shard degrades to a single '__error__' row, closed-form in the
    oracle. Completes the compression matrix: gzip, LZ4, Snappy,
    zstd (+dictionary), bzip2 — identical contracts, directly
    comparable in the bench.

    Scale shape: shard count grows with the corpus (one task per
    shard), decode+parse is map-only, the only exchange is the tiny
    per-source aggregate."""
    src = _write_bzip2_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.jsonl.bz2")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _bzip2_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# DICTIONARY-compressed zstd ingest (round 13): the small-document
# regime real corpora hit — per-doc frames are tiny, so production
# pipelines train a shared dictionary (ZDICT) and compress each doc
# against it. The fixture trains a REAL dictionary with libzstd's
# ZDICT_trainFromBuffer (ctypes) over a bounded deterministic sample,
# compresses every document INDIVIDUALLY with ZSTD_compress_usingDict,
# and the ingest decodes each frame through the from-scratch RFC 8878
# decoder's dictionary path (parse_zstd_dict: pre-shared Huffman/FSE
# tables, initial repeat offsets, window-prefix content) — a
# reference-encoder interop gate on the one zstd feature the plain
# ingest cannot reach.
# ---------------------------------------------------------------------------

_ZDICT_SAMPLE_DOCS = 200  # bounded training sample (first docs by id)
_ZDICT_CAPACITY = 4096


_LIBZSTD_CACHE: list = []  # one CDLL binding per process


def _libzstd_dict_api():
    """ctypes bindings for the encoder-side dictionary API (fixture
    writer only — decode is the from-scratch functions/zstd.py).
    Bound once per process: per-frame rebinding would re-run CDLL +
    eight signature declarations for every compressed document."""
    import ctypes

    if _LIBZSTD_CACHE:
        return _LIBZSTD_CACHE[0]

    lib = ctypes.CDLL("libzstd.so.1")
    sz = ctypes.c_size_t
    lib.ZDICT_trainFromBuffer.restype = sz
    lib.ZDICT_trainFromBuffer.argtypes = [
        ctypes.c_void_p, sz, ctypes.c_char_p, ctypes.POINTER(sz),
        ctypes.c_uint,
    ]
    lib.ZDICT_isError.restype = ctypes.c_uint
    lib.ZDICT_isError.argtypes = [sz]
    lib.ZSTD_compress_usingDict.restype = sz
    lib.ZSTD_compress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, sz, ctypes.c_char_p, sz,
        ctypes.c_char_p, sz, ctypes.c_int,
    ]
    lib.ZSTD_isError.restype = ctypes.c_uint
    lib.ZSTD_isError.argtypes = [sz]
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_freeCCtx.restype = sz
    lib.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
    lib.ZSTD_compressBound.restype = sz
    lib.ZSTD_compressBound.argtypes = [sz]
    _LIBZSTD_CACHE.append((lib, ctypes))
    return lib, ctypes


def _train_zstd_dict(samples: list) -> bytes:
    """Train a structured dictionary with real ZDICT; tiny or
    low-diversity corpora (training can refuse) fall back to a
    raw-content dictionary — both forms decode through
    parse_zstd_dict."""
    lib, ctypes = _libzstd_dict_api()
    buf = b"".join(samples)
    sizes = (ctypes.c_size_t * len(samples))(*[len(s) for s in samples])
    dbuf = ctypes.create_string_buffer(_ZDICT_CAPACITY)
    r = lib.ZDICT_trainFromBuffer(
        dbuf, _ZDICT_CAPACITY, buf, sizes, len(samples)
    )
    if lib.ZDICT_isError(r):
        return buf[:_ZDICT_CAPACITY]  # raw-content fallback
    return dbuf.raw[:r]


def _zstd_compress_with_dict(data: bytes, dict_bytes: bytes) -> bytes:
    lib, ctypes = _libzstd_dict_api()
    cctx = lib.ZSTD_createCCtx()
    try:
        cap = lib.ZSTD_compressBound(len(data))
        dst = ctypes.create_string_buffer(cap)
        w = lib.ZSTD_compress_usingDict(
            cctx, dst, cap, data, len(data), dict_bytes,
            len(dict_bytes), 3,
        )
        if lib.ZSTD_isError(w):
            raise RuntimeError("libzstd dictionary compression failed")
        return dst.raw[:w]
    finally:
        lib.ZSTD_freeCCtx(cctx)


@per_session
def _write_zstd_dict_fixture(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("hc_zstddict_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_shards = max(
        _LZ4_MIN_SHARDS, -(-docs.count() // _LZ4_DOCS_PER_SHARD)
    )
    # BOUNDED training sample: the first docs by id, the deterministic
    # stand-in for the held-out sample a real pipeline trains on
    sample = [
        _json_doc_line(r).encode("utf-8")
        for r in docs.orderBy("doc_id").limit(_ZDICT_SAMPLE_DOCS).collect()
    ]
    dict_bytes = _train_zstd_dict(sample)
    with open(os.path.join(out, "shared.dict"), "wb") as f:
        f.write(dict_bytes)

    def _emit(key, pdf):
        import pandas as pd

        from history_collector_spark.functions.zstd import (
            ZstdDecodeError,
            decompress,
        )

        shard = int(key[0])
        pdf = pdf.sort_values("doc_id")
        frames = [
            _zstd_compress_with_dict(
                (_json_doc_line(r) + "\n").encode("utf-8"), dict_bytes
            )
            for r in pdf.itertuples()
        ]
        blob = b"".join(frames)
        if shard == 0:
            # torn shard: nudge the cut until decode provably fails
            cut = len(blob) // 2
            while cut > 1:
                try:
                    decompress(blob[:cut], dictionary=dict_bytes)
                except ZstdDecodeError:
                    break
                cut -= 1
            blob = blob[:cut]
        path = os.path.join(out, f"docs{shard:03d}.jsonl.dzst")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame([(shard, len(blob))], columns=["shard", "n"])

    (
        docs.withColumn("shard", F.col("doc_id") % n_shards)
        .repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _json_doc_line(r) -> str:
    import json as _json

    return _json.dumps(
        {"doc_id": int(r.doc_id), "source": r.source, "text": r.text}
    )


def _make_zstd_dict_batches(dict_bytes: bytes):
    def _batches(batches):
        import json as _json

        import pandas as pd

        from history_collector_spark.functions.zstd import (
            ZstdDecodeError,
            decompress,
        )

        for pdf in batches:
            agg: dict[str, list] = {}
            for blob in pdf["content"]:
                try:
                    raw = decompress(bytes(blob), dictionary=dict_bytes)
                except ZstdDecodeError:
                    a = agg.setdefault("__error__", [0, 0])
                    a[0] += 1
                    continue
                for line in raw.decode("utf-8").splitlines():
                    d = _json.loads(line)
                    a = agg.setdefault(d["source"], [0, 0])
                    a[0] += 1
                    a[1] += len(d["text"])
            yield pd.DataFrame(
                [(s, v[0], v[1]) for s, v in agg.items()],
                columns=["source", "n_docs", "total_chars"],
            )

    return _batches


@register(
    "corpus_zstd_dict_ingest",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_zstd_dict_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of dictionary-compressed zstd shards (one tiny
    frame PER DOCUMENT, all sharing a ZDICT-trained dictionary — the
    small-document layout real corpora use) -> in-kernel RFC 8878
    decode through the from-scratch dictionary path: parse_zstd_dict
    loads the pre-shared Huffman/FSE tables, the initial repeat
    offsets, and the window-prefix content; every frame's header
    demands the dictionary id, so a wrong or missing dictionary fails
    loudly. Frames are REAL ZSTD_compress_usingDict output — a
    reference-encoder interop gate on the dictionary feature. One
    torn shard degrades to a single '__error__' row, closed-form in
    the oracle like its plain-zstd twin.

    Scale shape: the dictionary is read once on the driver (a few KB)
    and broadcast; shards decode map-only; the only exchange is the
    tiny per-source aggregate."""
    src = _write_zstd_dict_fixture(spark, sf_dir)
    with open(os.path.join(src, "shared.dict"), "rb") as f:
        dict_bytes = f.read()
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.jsonl.dzst")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _make_zstd_dict_batches(dict_bytes),
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# PDF text extraction (round 13): the single largest non-HTML text
# source in real training pipelines. Deterministic, viewer-openable
# PDFs are BUILT per sampled doc (60-char lines, 40-line pages, 2/3
# FlateDecode-compressed streams) and the text is extracted back
# through the from-scratch structure parser in functions/pdf.py —
# xref table, trailer, page tree walk, content streams, Tj/TJ string
# operators with full literal-string unescaping. Extraction must
# reproduce the document text BYTE-EXACTLY (the oracle compares
# md5(text)), and a deterministic slice of torn files must degrade to
# error rows.
# ---------------------------------------------------------------------------

_PDF_LINE = 60
_PDF_PAGE_LINES = 40


def _pdf_extract_batches(batches):
    import hashlib

    import pandas as pd

    from history_collector_spark.functions.pdf import (
        PdfDecodeError,
        extract_pdf_text,
        write_pdf,
    )

    for pdf_batch in batches:
        rows = []
        for doc_id, text in zip(pdf_batch["doc_id"], pdf_batch["text"]):
            d, t = int(doc_id), str(text)
            lines = [
                t[i : i + _PDF_LINE] for i in range(0, len(t), _PDF_LINE)
            ] or [""]
            pages = [
                lines[i : i + _PDF_PAGE_LINES]
                for i in range(0, len(lines), _PDF_PAGE_LINES)
            ]
            blob = write_pdf(pages, compress=bool(d % 3))
            if d % 65 == 0:  # torn file: truncated past the header
                blob = blob[: max(16, len(blob) // 2)]
            try:
                texts = extract_pdf_text(blob)
                joined = "".join(texts)
                rows.append(
                    (
                        d,
                        "ok",
                        len(texts),
                        len(joined),
                        hashlib.md5(joined.encode("utf-8")).hexdigest(),
                    )
                )
            except PdfDecodeError:
                rows.append((d, "error", None, None, None))
        yield pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "status": [r[1] for r in rows],
                "n_pages": pd.array(
                    [r[2] for r in rows], dtype="Int64"
                ),
                "n_chars": pd.array(
                    [r[3] for r in rows], dtype="Int64"
                ),
                "digest": [r[4] for r in rows],
            }
        )


@register(
    "corpus_pdf_extract",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text, length(text) AS L,
             doc_id % 65 = 0 AS err
      FROM documents WHERE doc_id % 13 = 0
    )
    SELECT doc_id,
      CASE WHEN err THEN 'error' ELSE 'ok' END AS status,
      CASE WHEN err THEN NULL
           ELSE CAST(ceil(greatest(1, CAST(ceil(L / {_PDF_LINE}.0)
                                    AS BIGINT)) / {_PDF_PAGE_LINES}.0)
                AS BIGINT) END AS n_pages,
      CASE WHEN err THEN NULL ELSE CAST(L AS BIGINT) END AS n_chars,
      CASE WHEN err THEN NULL ELSE md5(text) END AS digest
    FROM s
    """,
)
def corpus_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per sampled doc: build a real PDF (multi-page, FlateDecode on
    two thirds of the files), extract the text back through the
    from-scratch structure parser (xref -> catalog -> page tree ->
    content streams -> Tj/TJ with full unescaping), and emit page
    count, char count and an md5 digest of the EXTRACTED text — the
    oracle compares against md5 of the source text, so a single
    mis-unescaped byte, lost line, or page-order swap flips a row.
    Every 5th sampled file is torn mid-body and must land as an
    error row (the xref discovery fails loudly).

    Scale shape: pure map over sampled ids through the Arrow path,
    zero exchange — the shape of a real PDF-extraction stage, where
    per-file parse cost dominates and nothing shuffles."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 0)
        .select("doc_id", "text")
    )
    return spread(docs, spark).mapInPandas(
        _pdf_extract_batches,
        schema=(
            "doc_id bigint, status string, n_pages bigint,"
            " n_chars bigint, digest string"
        ),
    )


# ---------------------------------------------------------------------------
# ZIP archive ingest (round 14): the bundle format scanned-document
# drops, code datasets and open-data portals ship in. Shards are REAL
# stdlib-zipfile archives — each holding THREE jsonl members mixing
# STORED and DEFLATE so the central-directory walk, both compression
# arms, and per-member CRC verification are all exercised — decoded by
# the from-scratch APPNOTE reader in functions/zipfmt.py. Same shard
# layout / torn-shard contract / closed-form oracle as the other
# compression-matrix twins.
# ---------------------------------------------------------------------------

_ZIP_MEMBERS = 3


def _zip_encode(raw: bytes) -> bytes:
    import io
    import zipfile

    lines = raw.decode("utf-8").splitlines()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for m in range(_ZIP_MEMBERS):
            part = lines[m::_ZIP_MEMBERS]
            method = (
                zipfile.ZIP_STORED if m == 0 else zipfile.ZIP_DEFLATED
            )
            z.writestr(
                f"part{m}.jsonl",
                ("\n".join(part) + "\n") if part else "",
                compress_type=method,
            )
        z.comment = b"history-collector-spark corpus shard"
    return buf.getvalue()


def _zip_tear(blob: bytes) -> bytes:
    from history_collector_spark.functions.zipfmt import (
        ZipDecodeError,
        iter_zip,
    )

    cut = len(blob) // 2
    while cut > 1:
        try:
            iter_zip(blob[:cut])
        except ZipDecodeError:
            break
        cut -= 1
    return blob[:cut]


@per_session
def _write_zip_fixture(spark: SparkSession, sf_dir: str) -> str:
    return _write_codec_shards(
        spark, sf_dir, "zipjsonl", "zip", _zip_encode, _zip_tear
    )


def _zip_ingest_batches(batches):
    import json as _json

    import pandas as pd

    from history_collector_spark.functions.zipfmt import (
        ZipDecodeError,
        iter_zip,
    )

    for pdf in batches:
        agg: dict[str, list] = {}
        for blob in pdf["content"]:
            try:
                members = iter_zip(bytes(blob))
            except ZipDecodeError:
                a = agg.setdefault("__error__", [0, 0])
                a[0] += 1
                continue
            for _name, raw in members:
                for line in raw.decode("utf-8").splitlines():
                    d = _json.loads(line)
                    a = agg.setdefault(d["source"], [0, 0])
                    a[0] += 1
                    a[1] += len(d["text"])
        yield pd.DataFrame(
            [(s, v[0], v[1]) for s, v in agg.items()],
            columns=["source", "n_docs", "total_chars"],
        )


@register(
    "corpus_zip_ingest",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_zip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of .jsonl.zip shards -> in-kernel from-scratch
    ZIP walk (EOCD discovery through comment tails, central-directory
    authority over local headers, stored + DEFLATE members, mandatory
    per-member CRC-32) + JSON-lines parse, pre-aggregated per shard so
    only (source, count, chars) partials leave each task. Shards are
    REAL stdlib-zipfile output, so this is a reference-encoder interop
    gate on every run. One torn shard degrades to a single '__error__'
    row, closed-form in the oracle. Extends the compression matrix:
    gzip, LZ4, Snappy, zstd (+dictionary), bzip2, ZIP — identical
    contracts, directly comparable in the bench.

    Scale shape: shard count grows with the corpus (one task per
    shard), decode+parse is map-only, the only exchange is the tiny
    per-source aggregate."""
    src = _write_zip_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.jsonl.zip")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _zip_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# XZ archive ingest (round 14): the modern dump codec (Wikipedia dumps,
# software-heritage exports, many dataset mirrors ship .jsonl.xz) —
# decoded by the from-scratch XZ container + LZMA2/LZMA decoder in
# functions/xz.py (range coder, 12-state machine, matched literals,
# rep distances, CRC64/CRC32/SHA-256 block checks, index + footer
# cross-checks). Shards are REAL liblzma output (stdlib lzma), so
# every run is a reference-encoder interop check. Same shard layout /
# torn-shard contract / closed-form oracle as the other twins.
# ---------------------------------------------------------------------------


def _xz_encode(raw: bytes) -> bytes:
    import lzma

    return lzma.compress(raw, format=lzma.FORMAT_XZ, preset=6)


def _xz_tear(blob: bytes) -> bytes:
    from history_collector_spark.functions.xz import (
        XzDecodeError,
        decompress_xz,
    )

    cut = len(blob) // 2
    while cut > 1:
        try:
            decompress_xz(blob[:cut])
        except XzDecodeError:
            break
        cut -= 1
    return blob[:cut]


@per_session
def _write_xz_fixture(spark: SparkSession, sf_dir: str) -> str:
    return _write_codec_shards(
        spark, sf_dir, "xzjsonl", "xz", _xz_encode, _xz_tear
    )


def _xz_ingest_batches(batches):
    import json as _json

    import pandas as pd

    from history_collector_spark.functions.xz import (
        XzDecodeError,
        decompress_xz,
    )

    for pdf in batches:
        agg: dict[str, list] = {}
        for blob in pdf["content"]:
            try:
                raw = decompress_xz(bytes(blob))
            except XzDecodeError:
                a = agg.setdefault("__error__", [0, 0])
                a[0] += 1
                continue
            for line in raw.decode("utf-8").splitlines():
                d = _json.loads(line)
                a = agg.setdefault(d["source"], [0, 0])
                a[0] += 1
                a[1] += len(d["text"])
        yield pd.DataFrame(
            [(s, v[0], v[1]) for s, v in agg.items()],
            columns=["source", "n_docs", "total_chars"],
        )


@register(
    "corpus_xz_ingest",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_xz_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of .jsonl.xz shards -> in-kernel from-scratch
    XZ/LZMA2/LZMA decode (binary range coder, matched literals, rep
    distances, per-block CRC64 plus header/index/footer CRC32s all
    verified) + JSON-lines parse, pre-aggregated per shard so only
    (source, count, chars) partials leave each task. Shards are REAL
    liblzma output (stdlib lzma), so this is a reference-encoder
    interop gate on every run. One torn shard degrades to a single
    '__error__' row, closed-form in the oracle. Completes the
    compression matrix: gzip, LZ4, Snappy, zstd (+dictionary), bzip2,
    ZIP, XZ — identical contracts, directly comparable in the bench.

    Scale shape: shard count grows with the corpus (one task per
    shard), decode+parse is map-only, the only exchange is the tiny
    per-source aggregate. Pure-Python LZMA prices per-byte cost
    honestly (the bzip2 caveat); a JVM kernel slots behind the same
    contract at 100 TB."""
    src = _write_xz_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.jsonl.xz")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _xz_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# WARC + HTTP message ingest (round 14): real crawls don't store bare
# text — a WARC `response` record holds the RAW HTTP message (status
# line, headers, chunked transfer framing, gzip/deflate content
# coding). This query runs the full production decode chain: WARC
# framing -> HTTP response parse (sources/http_msg.py, pinned against
# stdlib http.client) -> transfer/content decoding -> text. The
# fixture cycles all four framing arms by doc_id so every shard
# exercises plain, chunked, gzip and chunked+gzip messages.
# ---------------------------------------------------------------------------


@per_session
def _write_warc_http_fixture(spark: SparkSession, sf_dir: str) -> str:
    from history_collector_spark.sources.http_msg import (
        write_http_response,
    )
    from history_collector_spark.sources.warc import write_warc

    out = scratch_dir("hc_warchttp_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # shard count scales with the corpus (the html-fixture lesson:
    # a pinned count hides a 10x-work-per-task cliff at 10x data)
    n_shards = max(4, -(-docs.count() // _LZ4_DOCS_PER_SHARD))

    def _emit(key, pdf):
        import pandas as pd

        k = int(key[0])
        pdf = pdf.sort_values("doc_id")
        recs = [{
            "warc_type": "warcinfo",
            "uri": f"file://shard{k}",
            "date": "2024-01-01T00:00:00Z",
            "payload": b"software: hc-http-fixture\r\n",
        }]
        for r in pdf.itertuples():
            arm = int(r.doc_id) % 4
            recs.append({
                "warc_type": "response",
                "uri": f"http://corpus.example/{r.source}/{r.doc_id}",
                "date": "2024-01-01T00:00:00Z",
                "payload": write_http_response(
                    r.text.encode("utf-8"),
                    chunked=arm in (1, 3),
                    content_encoding="gzip" if arm in (2, 3) else None,
                    chunk_size=211,
                ),
            })
        gz = k % 2 == 1
        blob = write_warc(recs, gzip_members=gz)
        path = os.path.join(
            out, f"shard{k}.warc" + (".gz" if gz else "")
        )
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame([(k, len(blob))], columns=["shard", "n"])

    (
        docs.withColumn("shard", F.col("doc_id") % n_shards)
        .repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _warc_http_batches(batches):
    import pandas as pd

    from history_collector_spark.sources.http_msg import (
        parse_http_response,
    )
    from history_collector_spark.sources.warc import parse_warc

    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            for rec in parse_warc(bytes(blob)):
                if rec["warc_type"] != "response":
                    continue
                msg = parse_http_response(rec["payload"])
                source = rec["uri"].rsplit("/", 2)[-2]
                te = msg["headers"].get("transfer-encoding", "")
                ce = msg["headers"].get("content-encoding", "")
                rows.append(
                    (
                        source,
                        len(msg["body"].decode("utf-8")),
                        int("chunked" in te),
                        int(ce != ""),
                        msg["status"],
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=["source", "n_chars", "chunked", "encoded", "status"],
        )


@register(
    "corpus_warc_http_ingest",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN doc_id % 4 IN (1, 3) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_chunked,
           CAST(sum(CASE WHEN doc_id % 4 IN (2, 3) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_encoded,
           CAST(count(*) * 200 AS BIGINT) AS status_sum
    FROM documents GROUP BY source
    """,
)
def corpus_warc_http_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of WARC shards whose response records hold RAW
    HTTP messages -> Arrow-batched WARC framing + HTTP response parse
    (status line, headers, chunked transfer decode, gzip content
    decode — the exact chain Common Crawl WET generation runs) ->
    per-source aggregates over the DECODED text, equal to the
    closed-form recomputation from `documents`. The per-doc framing
    arm (plain / chunked / gzip / chunked+gzip by doc_id % 4) makes
    every aggregate sensitive to each decode path; the parser itself
    is pinned against stdlib http.client in tests/test_round14.py.

    Scale shape: identical to corpus_warc_ingest — one task per shard,
    map-only decode, a tiny per-source combine."""
    src = _write_warc_http_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard*.warc*")
        .load(src)
        .select("content")
    )
    recs = blobs.mapInPandas(
        _warc_http_batches,
        schema=(
            "source string, n_chars bigint, chunked int,"
            " encoded int, status int"
        ),
    )
    return recs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("chunked").cast("long").alias("n_chunked"),
        F.sum("encoded").cast("long").alias("n_encoded"),
        F.sum("status").cast("long").alias("status_sum"),
    )


# ---------------------------------------------------------------------------
# Raw-Parquet ingest (round 15): the engine's own storage format,
# decoded WITHOUT pyarrow — functions/parquet_raw.py implements the
# thrift compact footer, RLE/bit-packed levels, PLAIN + RLE_DICTIONARY
# pages and v1/v2 data pages from the public spec, composing the
# package's own from-scratch Snappy and zstd decoders for page
# decompression. The fixture shards are REAL parquet-cpp output
# (pyarrow writer) cycling codec and data-page version per shard, so
# every run is a writer-interop conformance gate — the same posture as
# stdlib-lzma for XZ and stdlib-zipfile for ZIP.
# ---------------------------------------------------------------------------

_PQRAW_CODECS = ("SNAPPY", "ZSTD", "GZIP", "NONE", "SELF")


@per_session
def _write_parquet_raw_fixture(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("hc_pqraw_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_shards = max(
        _LZ4_MIN_SHARDS, -(-docs.count() // _LZ4_DOCS_PER_SHARD)
    )

    def _emit(key, pdf):
        import io

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        shard = int(key[0])
        pdf = pdf.sort_values("doc_id")
        arm = _PQRAW_CODECS[shard % len(_PQRAW_CODECS)]
        if arm == "SELF":
            # one arm is written by THIS PACKAGE's from-scratch writer
            # (functions/parquet_raw.py) — the dual conformance
            # direction runs under the driver gate too: files this
            # engine assembles must decode to the same closed-form
            # totals (and pyarrow/DuckDB read them, pinned in tests)
            from history_collector_spark.functions.parquet_raw import (
                write_parquet_raw,
            )

            blob = write_parquet_raw(
                [
                    ("doc_id", "int64",
                     [int(v) for v in pdf["doc_id"]]),
                    ("source", "string", list(pdf["source"])),
                    ("text", "string", list(pdf["text"])),
                ]
            )
        else:
            t = pa.table(
                {
                    "doc_id": pa.array(pdf["doc_id"], pa.int64()),
                    "source": pa.array(pdf["source"], pa.string()),
                    "text": pa.array(pdf["text"], pa.string()),
                }
            )
            buf = io.BytesIO()
            pq.write_table(
                t,
                buf,
                compression=arm,
                # alternate v1/v2 data pages and row-group splits so
                # the shard population exercises every decoder arm
                data_page_version="2.0" if shard % 2 else "1.0",
                row_group_size=1000,
            )
            blob = buf.getvalue()
        if shard == 0:
            # losing the footer (and trailing magic) must degrade to
            # the single '__error__' row, never kill the task
            blob = blob[: len(blob) // 2]
        path = os.path.join(out, f"docs{shard:03d}.parquet")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame([(shard, len(blob))], columns=["shard", "n"])

    (
        docs.withColumn("shard", F.col("doc_id") % n_shards)
        .repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _parquet_raw_ingest_batches(batches):
    import pandas as pd

    from history_collector_spark.functions.parquet_raw import (
        ParquetDecodeError,
        read_parquet_raw,
    )

    for pdf in batches:
        agg: dict[str, list] = {}
        for blob in pdf["content"]:
            try:
                dec = read_parquet_raw(bytes(blob))
            except ParquetDecodeError:
                a = agg.setdefault("__error__", [0, 0])
                a[0] += 1
                continue
            for src, txt in zip(
                dec["columns"]["source"], dec["columns"]["text"]
            ):
                a = agg.setdefault(src, [0, 0])
                a[0] += 1
                a[1] += len(txt)
        yield pd.DataFrame(
            [(s, v[0], v[1]) for s, v in agg.items()],
            columns=["source", "n_docs", "total_chars"],
        )


@register(
    "corpus_parquet_raw_ingest",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_parquet_raw_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of .parquet shards -> in-kernel FROM-SCRATCH
    parquet decode (thrift compact footer + page headers, RLE/
    bit-packed definition levels, PLAIN and RLE_DICTIONARY value
    pages, v1 AND v2 data pages — the shard population cycles both —
    with Snappy/zstd page decompression through this package's own
    decoders and gzip through stdlib inflate), pre-aggregated per
    shard so only (source, count, chars) partials leave each task.

    Four shard arms are REAL parquet-cpp (pyarrow) output cycling the
    codecs; the FIFTH arm is written by this package's own
    from-scratch writer, so BOTH conformance directions run under the
    driver gate — files real writers produce decode correctly, and
    files this engine assembles carry the same relational content
    (pyarrow/DuckDB/Spark read them, pinned in tests). Byte-level
    auditability of the storage layer, one level below the pyarrow
    footer-statistics audit (maintenance_rowgroup_pruning_audit). One
    torn shard (footer cut off) degrades to a single '__error__' row,
    closed-form in the oracle.

    Scale shape: shard count grows with the corpus (one task per
    shard), decode is map-only, the only exchange is the tiny
    per-source aggregate. Pure-Python page walks price per-byte cost
    honestly (SCALING.md codec-throughput table); a JVM kernel slots
    behind the same contract at 100 TB."""
    src = _write_parquet_raw_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.parquet")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _parquet_raw_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Raw-ORC ingest (round 15): the OTHER open columnar format, decoded
# without pyarrow — functions/orc_raw.py implements the protobuf
# footer/stripe metadata, compression framing, Byte-RLE/boolean-RLE
# and all four integer RLEv2 sub-encodings from the public ORC v1
# spec, composing the package's own Snappy/zstd/LZ4 block decoders
# (zlib = raw DEFLATE via stdlib). The shard population cycles five
# codecs AND both string encodings (direct vs dictionary), so every
# run is a liborc writer-interop conformance gate — the sibling of
# corpus_parquet_raw_ingest.
# ---------------------------------------------------------------------------

_ORC_CODECS = ("snappy", "zstd", "zlib", "lz4", "uncompressed", "SELF")


@per_session
def _write_orc_raw_fixture(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("hc_orcraw_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_shards = max(
        _LZ4_MIN_SHARDS, -(-docs.count() // _LZ4_DOCS_PER_SHARD)
    )

    def _emit(key, pdf):
        import io

        import pandas as pd
        import pyarrow as pa
        from pyarrow import orc as pa_orc

        shard = int(key[0])
        pdf = pdf.sort_values("doc_id")
        arm = _ORC_CODECS[shard % len(_ORC_CODECS)]
        if arm == "SELF":
            # one arm is written by THIS PACKAGE's from-scratch ORC
            # writer — the dual conformance direction under the driver
            # gate (liborc reads these files too, pinned in tests)
            from history_collector_spark.functions.orc_raw import (
                write_orc_raw,
            )

            blob = write_orc_raw(
                [
                    ("doc_id", "long",
                     [int(v) for v in pdf["doc_id"]]),
                    ("source", "string", list(pdf["source"])),
                    ("text", "string", list(pdf["text"])),
                ]
            )
        else:
            t = pa.table(
                {
                    "doc_id": pa.array(pdf["doc_id"], pa.int64()),
                    "source": pa.array(pdf["source"], pa.string()),
                    "text": pa.array(pdf["text"], pa.string()),
                }
            )
            buf = io.BytesIO()
            pa_orc.write_table(
                t,
                buf,
                compression=arm,
                # alternate direct vs dictionary string encodings so
                # the population exercises both decoder arms
                dictionary_key_size_threshold=1.0 if shard % 2 else 0.0,
            )
            blob = buf.getvalue()
        if shard == 0:
            # losing the postscript/footer must degrade to the single
            # '__error__' row, never kill the task
            blob = blob[: len(blob) // 2]
        path = os.path.join(out, f"docs{shard:03d}.orc")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame([(shard, len(blob))], columns=["shard", "n"])

    (
        docs.withColumn("shard", F.col("doc_id") % n_shards)
        .repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _orc_raw_ingest_batches(batches):
    import pandas as pd

    from history_collector_spark.functions.orc_raw import (
        OrcDecodeError,
        read_orc_raw,
    )

    for pdf in batches:
        agg: dict[str, list] = {}
        for blob in pdf["content"]:
            try:
                dec = read_orc_raw(bytes(blob))
            except OrcDecodeError:
                a = agg.setdefault("__error__", [0, 0])
                a[0] += 1
                continue
            for src, txt in zip(
                dec["columns"]["source"], dec["columns"]["text"]
            ):
                a = agg.setdefault(src, [0, 0])
                a[0] += 1
                a[1] += len(txt)
        yield pd.DataFrame(
            [(s, v[0], v[1]) for s, v in agg.items()],
            columns=["source", "n_docs", "total_chars"],
        )


@register(
    "corpus_orc_raw_ingest",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def corpus_orc_raw_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of .orc shards -> in-kernel FROM-SCRATCH ORC
    decode (protobuf PostScript/Footer/StripeFooter, compression
    framing over five codecs with the package's own Snappy/zstd/LZ4
    block decoders, boolean/byte RLE PRESENT streams, all four
    integer RLEv2 sub-encodings incl. PATCHED_BASE, string DIRECT_V2
    and DICTIONARY_V2 — the shard population cycles codec AND string
    encoding), pre-aggregated per shard so only (source, count,
    chars) partials leave each task.

    Five shard arms are REAL liborc (pyarrow.orc) output cycling the
    codecs; the SIXTH arm is written by this package's own
    from-scratch ORC writer (liborc reads those files too, pinned in
    tests), so BOTH conformance directions run under the driver gate
    — next to corpus_parquet_raw_ingest this gives the engine
    byte-level auditability of both lake formats it would read at
    100 TB. One torn shard (postscript cut off) degrades to the
    closed-form '__error__' row.

    Scale shape: shard count grows with the corpus (one task per
    shard), decode is map-only, the only exchange is the tiny
    per-source aggregate. Pure-Python RLEv2 walks price per-byte cost
    honestly (SCALING.md codec-throughput table); a JVM kernel slots
    behind the same contract at 100 TB."""
    src = _write_orc_raw_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "docs*.orc")
        .load(src)
        .select("content")
    )
    partials = blobs.mapInPandas(
        _orc_raw_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Streaming raw-Parquet ingest (round 15): lake files LAND over time;
# each micro-batch decodes only its new files with the from-scratch
# reader. Same kernel, same closed-form oracle as the batch query —
# equality proves the incremental ingest loses/duplicates nothing vs.
# the batch read (the streaming_warc_ingest_e2e discipline applied to
# the engine's own storage format).
# ---------------------------------------------------------------------------


@register(
    "streaming_parquet_ingest_e2e",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source, length(text) AS n_chars FROM documents
    ),
    nn AS (
      SELECT greatest({_LZ4_MIN_SHARDS},
                      CAST(ceil(count(*) / {_LZ4_DOCS_PER_SHARD}.0)
                           AS BIGINT)) AS k
      FROM meta
    )
    SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars
    FROM meta m, nn WHERE m.doc_id % nn.k <> 0
    GROUP BY m.source
    UNION ALL
    SELECT '__error__', 1, 0
    """,
)
def streaming_parquet_ingest_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The raw-parquet shard population consumed as a binaryFile
    STREAM (one file per micro-batch), decoded in flight by the
    from-scratch reader (torn shard included — it degrades to its
    error partial inside its own micro-batch, never killing the
    stream), landed append-only; the post-stream per-source aggregate
    must equal the batch closed-form truth. Scale: this is the lake
    compaction/ingest loop — per-batch work is one file's decode,
    checkpointing is the file-source offset log, nothing rescans old
    files."""
    from history_collector_spark.streaming.conf import drain_to_memory

    src = _write_parquet_raw_fixture(spark, sf_dir)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "docs*.parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .select("content")
    )
    partials = stream.mapInPandas(
        _parquet_raw_ingest_batches,
        schema="source string, n_docs bigint, total_chars bigint",
    )
    return drain_to_memory(partials).groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )
