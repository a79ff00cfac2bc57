"""Round-5 hardening tests: short-document gram guard, embedding-width
oracle guard, pair-table cache-key isolation, and AQE skew-join
introspection (the r4 verdict's "nothing verifies it activates" item).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from history_collector_spark.queries import dedup
from history_collector_spark.queries.corpus_health import (
    cross_source_contamination,
)
from history_collector_spark.queries.corpus_health import (
    embedding_dim_health,
)
from tests.conftest import TEST_SF_DIR


@contextmanager
def _scoped_conf(spark, confs: dict[str, str]):
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _mini_corpus(spark, tmp_path, docs_rows, emb_rows=None):
    """Write a tiny standalone corpus dir (documents [+ embeddings]),
    matching the driver tables' schema (doc_id, text, lang, source,
    n_chars)."""
    d = str(tmp_path)
    full = [
        (doc_id, text, "en", source, len(text))
        for (doc_id, source, text) in docs_rows
    ]
    spark.createDataFrame(
        full, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    if emb_rows is not None:
        spark.createDataFrame(
            emb_rows, "vec_id long, label string, embedding array<float>"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "embeddings.parquet")
        )
    return d


def test_contamination_short_docs_no_abort_no_spurious_grams(spark, tmp_path):
    """ADVICE r4 (high): docs with <3 whitespace tokens must emit ZERO
    grams — the unguarded F.sequence(0, -1) descending-array form
    aborted under ANSI or emitted spurious grams. Two 2-word docs
    sharing their words must NOT create a cross-source pair; the two
    10-word docs sharing a window must."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d = _mini_corpus(
        spark,
        tmp_path,
        [
            (1, "crawl_a", "tiny doc"),
            (2, "crawl_b", "tiny doc"),
            (3, "crawl_a", shared),
            (4, "crawl_b", shared + " extra"),
        ],
    )
    rows = cross_source_contamination(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["source_a"], r["source_b"]) == ("crawl_a", "crawl_b")
    # both 10-word docs contribute 8 grams; the 11-word doc one extra
    assert r["n_common"] == 8


def test_checked_embedding_rejects_wrong_width(spark, tmp_path):
    """ADVICE r4 (low): the dim-indexed oracles pin 64 dims via
    range(1,65); a vector of any other width must FAIL the job loudly
    instead of silently hash-comparing against a wrong oracle."""
    d = _mini_corpus(
        spark,
        tmp_path,
        [(1, "s", "x")],
        emb_rows=[(1, "lab", [0.1] * 32)],
    )
    with pytest.raises(Exception) as exc_info:
        embedding_dim_health(spark, d).collect()
    assert "embedding width" in str(exc_info.value)


def test_pair_table_cache_keyed_by_corpus(spark, tmp_path):
    """The session-pinned pair tables are keyed by (applicationId,
    sf_dir): a second corpus must get ITS pairs, never the first
    corpus's cached frame, and refresh_pair_tables() must evict."""
    first = dedup.verified_pair_table(spark, TEST_SF_DIR)
    n_first = first.count()
    assert n_first > 0  # the sf0.001 corpus has injected near-dups

    # a 3-doc corpus with zero near-dups -> distinct (empty) pair table
    d = _mini_corpus(
        spark,
        tmp_path,
        [
            (1, "s", "the quick brown fox jumps over a lazy dog today ok"),
            (2, "s", "completely different words about spark shuffles and "
                      "partitions in a cluster"),
            (3, "s", "third unrelated text mentioning oracles ducks and "
                      "parquet footers only"),
        ],
    )
    second = dedup.verified_pair_table(spark, d)
    assert second is not first
    assert second.count() == 0

    key = (spark.sparkContext.applicationId, d)
    assert key in dedup._PAIR_TABLE_CACHE
    dedup.refresh_pair_tables(d)
    assert key not in dedup._PAIR_TABLE_CACHE
    # the first corpus's entry survives a scoped refresh
    assert (
        spark.sparkContext.applicationId,
        TEST_SF_DIR,
    ) in dedup._PAIR_TABLE_CACHE


def _plan_of(spark, name):
    from history_collector_spark import registry

    registry.load_all()
    df = registry.QUERIES[name](spark, TEST_SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q19_pushes_disjunction_to_both_scans(spark):
    """The Q19 done-bar from the r4 verdict: Catalyst must derive each
    side's projection of the OR-of-ANDs and push it below the join —
    the part scan sees the brand/size disjunction, the lineitem scan
    the quantity disjunction, and part rides a broadcast."""
    plan = _plan_of(spark, "tpch_q19_disjunctive")
    # the pushed-down side filters sit BELOW the join as Filter nodes
    # referencing only one table's columns (the scan's DataFilters show
    # the same content but the plan printer truncates them)
    part_side = [
        l for l in plan.splitlines()
        if "Filter" in l and "p_brand" in l and "l_quantity" not in l
    ]
    li_side = [
        l for l in plan.splitlines()
        if "Filter" in l and "l_quantity" in l and "p_brand" not in l
    ]
    assert part_side and "Brand#12" in part_side[0] and "Brand#23" in part_side[0], (
        f"brand disjunction not pushed below the join: {part_side}"
    )
    assert li_side, f"quantity disjunction not pushed below the join:\n{plan[:1500]}"
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan


def test_q21_has_semi_and_anti_on_same_relation(spark):
    plan = _plan_of(spark, "tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan, f"EXISTS leg not a semi join:\n{plan[:1500]}"
    assert "LeftAnti" in plan, f"NOT EXISTS leg not an anti join:\n{plan[:1500]}"
    # the different-supplier residual must ride the join, not a
    # post-join filter over a fan-out
    assert "NOT (l_suppkey" in plan


def test_q22_anti_join_plus_broadcast_scalar(spark):
    plan = _plan_of(spark, "tpch_q22_dormant_customers")
    assert "LeftAnti" in plan
    # the scalar threshold is broadcast (1-row build side), never a
    # shuffle of customer against itself
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # open-order status prune reaches the orders scan
    assert "o_orderstatus" in plan and "= O" in plan


def test_ivf_bucketed_index_side_no_exchange(spark):
    """The bucketed IVF index's reason to exist: the probe join must
    read co-located buckets, never re-shuffle the index on the list id.
    Broadcast is disabled so the join stays sort-merge (at test scale
    AQE would broadcast the tiny index — which also leaves the index
    side exchange-free, but the bucket layout is what carries the
    property at 100 TB where nothing fits in a broadcast)."""
    from history_collector_spark import registry

    registry.load_all()
    with _scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        df = registry.QUERIES["ann_ivf_bucketed_probe"](spark, TEST_SF_DIR)
        assert df.count() > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning(label" not in plan, (
        f"index re-shuffled on the bucket key:\n{plan[:2000]}"
    )


def test_spark_runtime_bloom_filter_prunes_fact_side(spark):
    """Spark's runtime bloom-filter join pruning (the engine-native
    version of bloom_membership_audit's hand-built filter): a selective
    dim filter should inject a bloom probe into the fact scan when the
    join is shuffle-based. Thresholds are scoped down for test-scale
    data; broadcast disabled because broadcast joins don't need the
    bloom."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    fact = spark.range(0, 500_000).select(
        (F.col("id") % 10_000).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    dim = spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("attr"),
    ).filter(F.col("attr").like("0%"))  # ~1/16 selective
    with _scoped_conf(spark, confs):
        joined = fact.join(dim, "k")
        n = joined.rdd.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert n > 0
    assert "might_contain" in plan or "BloomFilter" in plan, (
        f"runtime bloom filter not injected:\n{plan[:2000]}"
    )


def test_topn_per_group_uses_window_group_limit(spark):
    """Spark's rank-pushdown (WindowGroupLimit) keeps per-group top-n
    from materializing full per-group sorts: each partition pre-prunes
    to n rows per key before the final window. topn_per_group is the
    registered query this matters for — assert the optimization
    actually engages so a regression (e.g. a filter form the rule
    doesn't recognize) shows up here, not at 100 TB."""
    plan = _plan_of(spark, "topn_per_group")
    assert "WindowGroupLimit" in plan, (
        f"rank pushdown not applied:\n{plan[:1500]}"
    )


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """The partner introspection to the skew test: AQE must MERGE
    undersized shuffle partitions (a 32-partition shuffle of a few KB
    should execute as a handful of reads). Verified from the final
    adaptive plan's AQEShuffleRead coalesced marker."""
    df = (
        spark.range(0, 10_000)
        .select((F.col("id") % 1000).alias("k"))
        .groupBy("k")
        .count()
    )
    n = df.rdd.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert n == 1000
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan, (
        f"partition coalescing did not engage:\n{plan[:1500]}"
    )


def test_streaming_topk_matches_sequential_mg(spark):
    """streaming_topk_e2e has no SQL oracle (sequential Misra-Gries);
    instead replay the SAME memoized feed through a pure-Python MG in
    arrival order and require the final snapshots to match EXACTLY,
    then check the classical guarantees (est <= true,
    true - est <= n/(k+1), every id above that threshold present)."""
    import glob

    import pandas as pd

    from history_collector_spark import registry
    from history_collector_spark.queries.xstream import _late_replay_dir
    from history_collector_spark.streaming.stateful import MG_CAPACITY

    registry.load_all()
    got = (
        registry.QUERIES["streaming_topk_e2e"](spark, TEST_SF_DIR)
        .toPandas()
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )

    flat = _late_replay_dir(spark, TEST_SF_DIR)
    sim: dict[str, dict[int, int]] = {}
    seen: dict[str, int] = {}
    true_counts: dict[str, dict[int, int]] = {}
    for f in sorted(glob.glob(f"{flat}/*.parquet")):
        pdf = pd.read_parquet(f).sort_values(["ts", "event_id"])
        pdf["user_id"] = pdf["event_id"] % 50
        for et, uid in zip(pdf["event_type"], pdf["user_id"]):
            uid = int(uid)
            c = sim.setdefault(et, {})
            seen[et] = seen.get(et, 0) + 1
            true_counts.setdefault(et, {})
            true_counts[et][uid] = true_counts[et].get(uid, 0) + 1
            if uid in c:
                c[uid] += 1
            elif len(c) < MG_CAPACITY:
                c[uid] = 1
            else:
                for k in list(c):
                    c[k] -= 1
                    if c[k] == 0:
                        del c[k]
    expect = pd.DataFrame(
        [
            (et, uid, cnt, seen[et])
            for et, cs in sim.items()
            for uid, cnt in cs.items()
        ],
        columns=["event_type", "user_id", "est_count", "n_seen"],
    ).sort_values(["event_type", "user_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"user_id": "int64", "est_count": "int64", "n_seen": "int64"}),
        expect.astype({"user_id": "int64", "est_count": "int64", "n_seen": "int64"}),
    )
    # classical MG guarantees against the true counts
    for _, r in got.iterrows():
        true = true_counts[r["event_type"]][int(r["user_id"])]
        n = seen[r["event_type"]]
        assert r["est_count"] <= true
        assert true - r["est_count"] <= n / (MG_CAPACITY + 1)
    for et, tc in true_counts.items():
        reported = set(got[got["event_type"] == et]["user_id"].astype(int))
        for uid, cnt in tc.items():
            if cnt > seen[et] / (MG_CAPACITY + 1):
                assert uid in reported, (et, uid, cnt)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Dynamic partition pruning — the one optimizer feature no other
    test introspects: a fact table PARTITIONED on the join key, joined
    to a dim whose selective filter is only known at runtime, must
    plan the fact scan with a dynamicpruning subquery in its partition
    filters (so only the matching partition directories are listed/
    read at execution). Static pruning is covered by
    sink_partitioned_roundtrip; this is the runtime variant."""
    import os

    fact_dir = os.path.join(str(tmp_path), "fact")
    (
        spark.range(0, 20_000)
        .select(
            F.col("id").alias("row_id"),
            (F.col("id") % 20).alias("part_key"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        .write.partitionBy("part_key")
        .mode("overwrite")
        .parquet(fact_dir)
    )
    fact = spark.read.parquet(fact_dir)
    dim = spark.range(0, 20).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("attr")
    ).filter(F.col("attr").like("1%"))  # runtime-selective
    with _scoped_conf(
        spark,
        {
            "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
            # force the reuse-broadcast DPP path even at tiny sizes
            "spark.sql.optimizer.dynamicPartitionPruning.useStats": "false",
            "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio": "10",
        },
    ):
        joined = fact.join(dim, fact.part_key == dim.k)
        n = joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert n > 0
    assert "dynamicpruning" in plan.lower(), (
        f"dynamic partition pruning not planned:\n{plan[:2000]}"
    )


def test_range_layout_files_non_overlapping(spark):
    """write_range_layout's contract: each parquet file covers a
    contiguous, non-overlapping doc_id range, so footer min/max stats
    can prune whole files for range predicates."""
    import glob

    from history_collector_spark.queries.maintenance import maintenance_dirs

    ranged = os.path.join(maintenance_dirs(spark, TEST_SF_DIR), "ranged")
    spans = []
    for f in glob.glob(f"{ranged}/part-*.parquet"):
        row = (
            spark.read.parquet(f)
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .first()
        )
        spans.append((row["lo"], row["hi"]))
    spans.sort()
    assert len(spans) == 4
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {spans}"


def test_aqe_skew_join_split_fires(spark):
    """session.py enables spark.sql.adaptive.skewJoin; this asserts the
    split actually ACTIVATES on a deliberately hot key. Thresholds are
    scoped down (advisory 16k / skew threshold 32k / factor 2) because
    the defaults (256 MB) would need GBs of fixture; broadcast is
    disabled so the join stays sort-merge (skew split only applies to
    shuffle joins)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    # one maximally hot key (0 carries 87% of rows) plus a uniform tail
    left = spark.range(0, 400_000).select(
        F.when(F.col("id") < 350_000, F.lit(0))
        .otherwise(F.col("id") % 97)
        .alias("k"),
        F.concat(*[F.md5(F.col("id").cast("string"))] * 4).alias("payload"),
    )
    right = spark.range(0, 5_000).select(
        (F.col("id") % 97).alias("k"),
        F.md5(F.col("id").cast("string")).alias("dim"),
    )
    with _scoped_conf(spark, confs):
        joined = left.join(right, "k")
        # materialize THIS QueryExecution (rdd.count shares it) so the
        # captured plan is the final adaptive one. A downstream agg
        # would suppress the split: OptimizeSkewedJoin declines when
        # the join's output partitioning is still required (its own
        # documented extra-shuffle rule) — which is also why this guard
        # exercises a terminal join, the shape a skewed fact-join write
        # path has at 100 TB.
        n = joined.rdd.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert n > 0
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan and "AQEShuffleRead skewed" in plan, (
        "AQE skew-join split did not activate — check the thresholds "
        f"against the fixture size. Plan:\n{plan[:2000]}"
    )
