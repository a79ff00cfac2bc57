"""Query + oracle registry.

Every operator from SURVEY.md §2 (and the scale-out extensions) registers
one named Spark query plus, when SQL-expressible, a DuckDB oracle twin.
The driver contract (__spark_entry__.py) reads QUERIES/ORACLES from here.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import pinning

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle SQL.

    Column names must match exactly between the Spark result and the oracle
    (the driver sorts columns by name before hashing values) — alias every
    computed column identically on both sides.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        # Evict the previous query's QUERY-LOCAL persist pins at every
        # top-level invocation (see pinning.py): session cache memory
        # stays bounded to one query's pins, and re-invoking the same
        # query recomputes from parquet instead of reading a warm cache.
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pinning.enter_query()
            try:
                return fn(spark, sf_dir)
            finally:
                pinning.leave_query()

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


_LOADED = False


# The external driver's correctness gate samples the FIRST 50 registered
# queries, so registration order decides which operator families get its
# oracle signal. The window is this explicit list (order matters; see
# tests/test_round6.py::test_driver_window_hygiene). Every query outside
# it keeps full local oracle coverage in tests/test_correctness.py; the
# per-round rotation history lives in git.
PRIORITY_QUERIES = (
    # --- kept anchors (28) ---
    "account_history",
    "tpch_q18_large_orders",
    "xdr_triplet_parity",
    "pipeline_parity",
    "streaming_ingest_e2e",
    "streaming_jdbc_e2e",
    "streaming_gapless_e2e",
    "streaming_interval_join_e2e",
    "corpus_xz_ingest",
    "corpus_zip_ingest",
    # round-15 build: the raw-ORC ingest (from-scratch protobuf/
    # RLEv2 reader over real liborc shards) takes the bzip2 seat —
    # corpus_bzip2_ingest was driver-green r14 and stays locally
    # oracle-verified every run
    "corpus_orc_raw_ingest",
    "corpus_warc_http_ingest",
    # round-15 build: the raw-Parquet ingest (from-scratch thrift/
    # RLE/dictionary-page reader over real parquet-cpp shards) takes
    # the zstd-dict seat — the matrix keeps bzip2/zip/xz in-window;
    # corpus_zstd_dict_ingest was driver-green r14 and stays locally
    # oracle-verified every run
    "corpus_parquet_raw_ingest",
    "corpus_robots_rules",
    "crawl_frontier_assign",
    "multimodal_decode_yield",
    "multimodal_audio_tone_energy",
    "curation_chat_template_pack",
    "curation_web_end_to_end",
    "ann_ivf_topk",
    "cluster_kmeans_train",
    "k_anonymity_audit",
    "dp_count_release_audit",
    # round-15 build: the production-input parquet self-audit takes
    # the minhash-calibration seat — split_leakage_near_dup keeps
    # dedup/LSH in-window; dedup_minhash_calibration was
    # driver-green r14 and stays locally oracle-verified
    "maintenance_parquet_self_audit",
    "text_bm25_retrieval",
    "tokenizer_wordpiece_greedy",
    # round-15 build: the bucketed spatial nearest-neighbor join
    # (NEW geo family) takes the JSON-pack seat — json_extract_pack
    # was driver-green r14 and stays locally oracle-verified
    "geo_bucket_knn_join",
    # round-15 build: Mann-Whitney U (NEW rank-statistics family)
    # takes the sketch seat — incremental_agg_merge keeps the
    # incremental family in-window; incremental_sketch_merge was
    # driver-green r14 and stays locally oracle-verified
    "events_mann_whitney_u",
    # --- round-15 fresh (22, never sampled in any r1-r14 window) ---
    "table_profile",
    "customer_rfm_segments",
    "key_skew_report",
    "robust_stats_winsorized",
    "event_anomaly_mad",
    "out_of_order_audit",
    "hard_negative_mining",
    "bucketed_join_roundtrip",
    "snapshot_diff_report",
    "cluster_silhouette",
    "split_leakage_near_dup",
    "embedding_dim_health",
    "text_char_entropy",
    "curation_filter_funnel",
    "curation_dsir_selection",
    "eval_average_precision",
    "feature_hash_vectors",
    "maintenance_rowgroup_pruning_audit",
    "er_entity_cluster_census",
    "streaming_static_join_e2e",
    "analytic_window_funcs",
    "sql_surface",
)


def load_all() -> None:
    """Import every query-bearing module exactly once, then put the
    explicit PRIORITY_QUERIES first in registration order.

    Modules are discovered from disk (pkgutil) so the import list can
    never drift from what exists; imports are side-effecting — the
    @register decorators populate QUERIES/ORACLES. The post-import
    reorder makes the driver-visible window an explicit, reviewable
    list instead of an accident of module import order.
    """
    global _LOADED
    if _LOADED:
        return
    import importlib
    import pkgutil

    import history_collector_spark.queries as qpkg

    for mod in sorted(m.name for m in pkgutil.iter_modules(qpkg.__path__)):
        importlib.import_module(f"{qpkg.__name__}.{mod}")

    missing = [n for n in PRIORITY_QUERIES if n not in QUERIES]
    assert not missing, f"PRIORITY_QUERIES not registered: {missing}"
    ordered = list(PRIORITY_QUERIES) + [
        n for n in QUERIES if n not in set(PRIORITY_QUERIES)
    ]
    for d in (QUERIES, ORACLES):
        items = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(items)

    _LOADED = True
