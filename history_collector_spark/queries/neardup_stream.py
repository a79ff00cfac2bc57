"""Streaming near-duplicate detection: MinHash-LSH dedup of a document
stream against (a) a static corpus LSH index and (b) the stream itself.

This is the streaming twin of the batch MinHash-LSH family in
``dedup.py`` — the capability a real ingest pipeline needs: documents
arrive in micro-batches and must be near-dup-checked against the
already-indexed corpus AND against other in-flight documents, without
ever rescanning the corpus or holding raw text in state.

Composition (each half scales independently):

1. **Per-doc signatures are map-only.** An Arrow-batched
   ``mapInPandas`` computes the full 32-hash MinHash signature and the
   16 band buckets per document in one pass (numpy affine-mix over the
   md5'd shingle hashes). Unlike the batch path — which reuses
   exploded shingle ROWS and a 32-min groupBy because other consumers
   need the shingle sets — the streaming path needs no shuffle at all:
   a signature is a pure function of one document. At 100 TB/day this
   is the shape you want: signing is embarrassingly parallel, the only
   exchanges downstream carry 16 short (doc_id, band, bucket) rows per
   document, never text.
2. **Corpus probe = stream-static join.** The existing corpus's LSH
   index (doc_id, band, bucket — the table ``dedup_minhash_lsh``
   materializes) is joined to each micro-batch on (band, bucket). No
   streaming state: the index is the state, exactly like a 100 TB
   deployment where the index lives as a bucketed table and the join
   is co-located.
3. **In-stream collisions = bounded keyed state.**
   ``applyInPandasWithState`` keyed by (band, bucket) carries the
   doc_ids previously seen in that bucket; each arriving doc emits a
   pair per prior member, then joins the member list. State is O(real
   duplication) per bucket — the same growth law as the batch LSH
   collision table — and never holds text.

The e2e query replays the odd-doc_id half of ``documents`` as _N_FILES
micro-batches against a static index built from the even half, and the
emitted pair set must equal the batch LSH pair table restricted to
pairs touching an odd doc — proving the incremental composition loses
and invents nothing vs. the batch truth (dedup.py's oracle discipline,
extended to a real stream).

Reference parity note: the reference engine has no streaming dedup —
this extends its exactly-once ingest loop (reference python/main.py:
254-309) with the LLM-pipeline operator set per the round brief.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from history_collector_spark.catalog import table
from history_collector_spark.functions.nlp import MH_PRIME, mh_consts
from history_collector_spark.registry import register
from history_collector_spark.scratch import per_session
from history_collector_spark.streaming.replay import write_replay_files
from history_collector_spark.streaming.conf import (
    drain_to_memory,
    python_state_partitions,
)

N_HASHES = 32
N_BANDS = 16
_A, _B = mh_consts(N_HASHES)
_A_NP = np.array(_A, dtype=np.int64)[:, None]
_B_NP = np.array(_B, dtype=np.int64)[:, None]

# 2 replay files = 2 micro-batches: still a genuine multi-batch stream
# (in-flight state must carry pairs across a trigger boundary), but
# half the fixed per-trigger cost — this query was the suite-slowest
# at 12.86s/sf0.1 in round 9, ~all of it micro-batch scheduling (the
# measured slope was x3.3, i.e. not data). The emitted pair set is
# micro-batch-count-invariant (proven against the batch LSH oracle).
_N_FILES = 2
_SIG_SCHEMA = "doc_id bigint, band int, bucket string"

_PAIR_OUT_SCHEMA = StructType(
    [
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)
_PAIR_STATE_SCHEMA = StructType(
    [StructField("members", ArrayType(LongType()))]
)


def doc_signature_buckets(doc_id: int, text: str):
    """One document -> its 16 (band, bucket) LSH rows, bit-identical to
    the batch formulation in dedup.py (md5-derived shingle hashes,
    affine 32-hash family, md5-paired band buckets). Docs with < 3
    tokens have no shingles and produce no rows, matching the batch
    groupBy's empty-group absence."""
    toks = re.split(r"\s+", text)
    n = len(toks)
    if n < 3:
        return []
    hs = np.fromiter(
        (
            int(
                hashlib.md5(
                    " ".join(toks[i : i + 3]).encode("utf-8")
                ).hexdigest()[:8],
                16,
            )
            for i in range(n - 2)
        ),
        dtype=np.int64,
        count=n - 2,
    )
    # A[i] < 2^20, h < 2^32 -> product < 2^52: exact in int64
    mins = ((_A_NP * hs[None, :] + _B_NP) % MH_PRIME).min(axis=1)
    return [
        (
            doc_id,
            j,
            hashlib.md5(
                f"{mins[2 * j]}_{mins[2 * j + 1]}".encode()
            ).hexdigest(),
        )
        for j in range(N_BANDS)
    ]


def _sign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            rows.extend(doc_signature_buckets(int(doc_id), text))
        yield pd.DataFrame(rows, columns=["doc_id", "band", "bucket"])


def signature_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, band, bucket), map-only; works on
    both batch and streaming DataFrames."""
    return docs.mapInPandas(_sign_batches, schema=_SIG_SCHEMA)


def make_bucket_pair_tracker(ttl_ms: int = 0):
    """Tracker factory. ``ttl_ms > 0`` arms a processing-time timeout
    per bucket key: a bucket idle for ttl_ms is EVICTED (its member
    list dropped), bounding state for a forever-running ingest — docs
    arriving after eviction only pair against the static corpus index
    and newer in-flight docs, the standard freshness-window trade
    every streaming near-dup deployment makes. The e2e query uses
    ttl=0 (NoTimeout) so its result is exactly the batch pair table;
    the eviction path is pinned by its own unit test."""

    def track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"doc_a": [], "doc_b": []})
            return
        members: list[int] = list(state.get[0]) if state.exists else []
        out_a: list[int] = []
        out_b: list[int] = []
        for pdf in pdfs:
            for d in sorted(int(x) for x in pdf["doc_id"]):
                for m in members:
                    if m != d:
                        out_a.append(min(m, d))
                        out_b.append(max(m, d))
                members.append(d)
        state.update((members,))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b})

    return track


_bucket_pair_tracker = make_bucket_pair_tracker()


# r16: shard-packed state for the ttl=0 path. applyInPandasWithState
# dispatches one Python call (pandas concat + frame build + state
# round-trip) PER KEY PER BATCH; keyed by (band, bucket) that is up to
# 16 rows' worth of dispatches PER DOCUMENT (measured: the dominant
# share of this query's addBatch). The shard tracker keys by
# hash(band, bucket) % n_shards and carries a per-bucket member dict in
# shard state — per-bucket pair emission logic and member order are
# IDENTICAL (each bucket's arrivals still append in sorted-per-batch
# order), so the emitted pair multiset is unchanged. The ttl>0 path
# keeps per-bucket keys: idle-eviction granularity IS the bucket.
_PAIR_SHARD_STATE_SCHEMA = StructType(
    [
        StructField("bands", ArrayType(IntegerType())),
        StructField("buckets", ArrayType(StringType())),
        StructField("members", ArrayType(ArrayType(LongType()))),
    ]
)


def shard_pair_tracker(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        bands, buckets, member_lists = state.get
        mem = {
            (int(b), bk): list(m)
            for b, bk, m in zip(bands, buckets, member_lists)
        }
    else:
        mem = {}
    pdf = pd.concat(list(pdfs), ignore_index=True)
    out_a: list[int] = []
    out_b: list[int] = []
    for (band, bucket), g in pdf.groupby(["band", "bucket"], sort=True):
        members = mem.setdefault((int(band), bucket), [])
        for d in sorted(int(x) for x in g["doc_id"]):
            for m in members:
                if m != d:
                    out_a.append(min(m, d))
                    out_b.append(max(m, d))
            members.append(d)
    yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b})
    if mem:
        state.update(
            (
                [k[0] for k in mem.keys()],
                [k[1] for k in mem.keys()],
                list(mem.values()),
            )
        )


def track_bucket_pairs(
    sig_stream: DataFrame, ttl_ms: int = 0, n_shards: int | None = None
) -> DataFrame:
    """(doc_id, band, bucket) stream -> in-stream collision pairs;
    ttl_ms > 0 bounds bucket state by idle-eviction (see factory) and
    keeps per-bucket keying; ttl_ms == 0 packs buckets into
    hash-sharded state (identical pair output, two orders of magnitude
    fewer Python dispatches per micro-batch)."""
    if ttl_ms:
        return sig_stream.groupBy("band", "bucket").applyInPandasWithState(
            make_bucket_pair_tracker(ttl_ms),
            outputStructType=_PAIR_OUT_SCHEMA,
            stateStructType=_PAIR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    n = n_shards or 4 * sig_stream.sparkSession.sparkContext.defaultParallelism
    sharded = sig_stream.withColumn(
        "shard",
        F.pmod(F.xxhash64(F.col("band"), F.col("bucket")), F.lit(n)),
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        shard_pair_tracker,
        outputStructType=_PAIR_OUT_SCHEMA,
        stateStructType=_PAIR_SHARD_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@per_session
def _doc_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Odd-doc_id documents as _N_FILES doc_id-range-partitioned parquet
    files with strictly increasing mtimes (the file source orders
    micro-batches by modification time), memoized per (session, corpus)
    like xstream._time_partitioned_replay_dir."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
    )
    bounds = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    feed = docs.crossJoin(F.broadcast(bounds)).withColumn(
        "file_no",
        F.floor(
            F.lit(_N_FILES)
            * (F.col("doc_id") - F.col("mn"))
            / (F.col("mx") - F.col("mn") + F.lit(1))
        ).cast("int"),
    )
    return write_replay_files(
        feed, ("doc_id", "text"), _N_FILES, prefix="hc_neardup_"
    )


# Batch LSH CTE over a PARAMETRIZED doc set (dedup._BUCKETS_SQL is
# all-docs; the streaming oracle needs the same math with the pair
# filter applied afterwards, so it is restated here over `documents`).
_A_SQL = "[" + ", ".join(map(str, _A)) + "]"
_B_SQL = "[" + ", ".join(map(str, _B)) + "]"
_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
      FROM toks
    ),
    hs AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h
      FROM sh
    ),
    seeds AS (
      SELECT i AS seed, {_A_SQL}[i + 1] AS a, {_B_SQL}[i + 1] AS b
      FROM (SELECT unnest(range({N_HASHES})) AS i)
    ),
    mh AS (
      SELECT doc_id, seed, min((a * h + b) % {MH_PRIME}) AS m
      FROM hs, seeds
      GROUP BY doc_id, seed
    ),
    buckets AS (
      SELECT a.doc_id, CAST(a.seed // 2 AS INT) AS band,
             md5(concat(a.m, '_', b.m)) AS bucket
      FROM mh a JOIN mh b ON a.doc_id = b.doc_id AND b.seed = a.seed + 1
      WHERE a.seed % 2 = 0
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a
    JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1
"""


@register("streaming_neardup_e2e", oracle=_ORACLE)
def streaming_neardup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odd docs stream in _N_FILES micro-batches; each batch is LSH-signed
    map-side, probed against the static even-doc index (stream-static
    join), and checked against in-flight odd docs (bounded keyed bucket
    state). The union of both pair channels must equal the batch LSH
    pair table restricted to pairs touching an odd doc — the batch/
    streaming equivalence contract (same discipline as
    streaming_hll_merge_e2e's bit-equal registers).

    Scale: the static side is the LSH index (16 short rows/doc, the
    thing a 100 TB corpus materializes anyway), the stream side carries
    16 rows/doc, state holds doc_ids only. Nothing rescans the corpus,
    no channel ever holds text past the map-side signer.
    """
    # static index: batch LSH table over the "already ingested" half —
    # the BATCH formulation (shingle rows + 32 min-aggs) from dedup.py,
    # proving the two formulations interoperate. A doc's bucket rows
    # are independent of every other doc, so the even-half index IS
    # the session-memoized full-corpus index filtered to even ids —
    # reusing the pinned table the dedup family already shares instead
    # of re-deriving shingles+min-aggs per invocation (measured ~4s of
    # this query's wall at sf0.1).
    from history_collector_spark.queries.dedup import lsh_index_table

    index = lsh_index_table(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 0
    )

    flat = _doc_replay_dir(spark, sf_dir)

    def sig_stream():
        return signature_stream(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )

    # channel 1: probe the static corpus index on (band, bucket)
    sigs = sig_stream()
    idx = index.select(
        F.col("doc_id").alias("idx_doc"),
        F.col("band").alias("iband"),
        F.col("bucket").alias("ibucket"),
    )
    probe = sigs.join(
        idx,
        (sigs.band == idx.iband) & (sigs.bucket == idx.ibucket),
    ).select(
        F.least("doc_id", "idx_doc").alias("doc_a"),
        F.greatest("doc_id", "idx_doc").alias("doc_b"),
    )
    # channel 2: in-stream collisions via keyed bucket state. Both
    # channels UNION into one streaming query, so the feed replays
    # once (_N_FILES micro-batches, not 2x) — the stateful subtree and the
    # stream-static join coexist under a single availableNow run.
    both = probe.unionByName(track_bucket_pairs(sig_stream()))
    # state partitions = defaultParallelism: the keyed bucket tracker
    # is a PYTHON stateful op (applyInPandasWithState), so each state
    # partition is an Arrow round-trip through a worker — measured at
    # sf0.1/local[32]: 4 parts 11.8s, 8 parts 7.4s, 32 parts 4.9s.
    # More state tasks = more concurrent Python workers; the
    # state-store init cost the JVM-side streams tune DOWN for is not
    # the binding constraint here.
    merged = drain_to_memory(both, state_partitions=python_state_partitions(spark))
    return merged.distinct()
