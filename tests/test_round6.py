"""Round-6 hardening tests: plan-level assertions for the new queries
(PQ map-only build, percentile_disc without a raw-event sort, PNG
roundtrip column pruning, RRF TakeOrderedAndProject) and the parity
mode's own behavior (round-6-then-exact catches boundary flips that
the 1e-6 tolerance mode waves through).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from history_collector_spark import registry
from tests.conftest import TEST_SF_DIR
from tests.oracle_compare import assert_frames_match

registry.load_all()


def _executed_plan(df) -> str:
    # run the action on the SAME QueryExecution so AQE finalizes it;
    # keep only the FINAL adaptive plan (the string also prints the
    # initial plan, which would double-count operators)
    df.rdd.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_pq_assignment_is_map_only(spark):
    """The PQ build must score against a broadcast codebook with ZERO
    data-side shuffles — at 100 TB the vectors never move."""
    df = registry.QUERIES["ann_pq_codebook_assign"](spark, TEST_SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan, (
        "PQ assignment shuffled the vectors; the codebook side must broadcast"
    )


def test_conversion_latency_uses_aggregate_percentiles(spark):
    """percentile_disc must run as a partial/final aggregate, not a
    global sort of the latency rows."""
    df = registry.QUERIES["conversion_latency"](spark, TEST_SF_DIR)
    plan = _executed_plan(df)
    assert "percentile_disc" in plan
    # the only sorts allowed are the join's sort-merge sides (keyed),
    # never a global Sort over a SinglePartition exchange of latencies
    for line in plan.splitlines():
        if "Sort " in line and "SinglePartition" in line:
            pytest.fail(f"global sort of latencies: {line}")


def test_png_roundtrip_prunes_to_doc_id(spark):
    """The PNG query reads ONLY doc_id from the documents scan — the
    prune-before-decode rule that makes multimodal work survive scale."""
    df = registry.QUERIES["multimodal_decode_png"](spark, TEST_SF_DIR)
    plan = _executed_plan(df)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    for ln in scans:
        schema = ln.split("ReadSchema:")[1]
        assert "doc_id" in schema and "text" not in schema, ln


def test_rrf_topk_is_take_ordered(spark):
    """The fused top-20 must execute as TakeOrderedAndProject (per-
    partition partial top-k), never a full sort of the candidates."""
    df = registry.QUERIES["retrieval_rrf_fusion"](spark, TEST_SF_DIR)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_matryoshka_single_shuffle(spark):
    """Slice folds are map-only; the ONLY exchange is the 4-group
    (prefix_dim) aggregate reduce."""
    df = registry.QUERIES["embedding_matryoshka_audit"](spark, TEST_SF_DIR)
    plan = _executed_plan(df)
    n_exchanges = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_exchanges <= 1, f"{n_exchanges} shuffles in a map+reduce audit"


def test_pareto_frontier_matches_bruteforce(spark):
    """Independent O(n^2) dominance check over the collected points:
    every emitted point is undominated, every undominated price-point
    appears. (Guards the windowed sort-scan against dominance-rule
    regressions; sf0.001 keeps the quadratic check tiny.)"""
    rows = (
        registry.QUERIES["orders_pareto_frontier"](spark, TEST_SF_DIR)
        .collect()
    )
    import duckdb

    con = duckdb.connect()
    pts = con.sql(
        f"""
        SELECT o_orderpriority AS priority, o_totalprice AS price,
               max(o_orderdate) AS best_date
        FROM '{TEST_SF_DIR}/orders.parquet' GROUP BY 1, 2
        """
    ).fetchall()
    by_prio: dict[str, list] = {}
    for prio, price, date in pts:
        by_prio.setdefault(prio, []).append((price, date))
    expected = set()
    for prio, lst in by_prio.items():
        for price, date in lst:
            dominated = any(
                (p2 < price and d2 >= date) for (p2, d2) in lst
            )
            if not dominated:
                expected.add((prio, price))
    got = {(r["priority"], r["price"]) for r in rows}
    assert got == expected
    # frontier_pos is dense ascending-by-price within each priority
    for prio in by_prio:
        sub = sorted(
            (r for r in rows if r["priority"] == prio),
            key=lambda r: r["price"],
        )
        assert [r["frontier_pos"] for r in sub] == list(range(1, len(sub) + 1))


def test_parity_mode_catches_boundary_flip():
    """The failure class that shipped round 5: values equal to 1e-6
    tolerance but straddling a round-6 boundary must FAIL parity mode
    while PASSING tolerance mode."""
    a = pd.DataFrame({"k": [1, 2], "v": [0.1234565000001, 1.0]})
    b = pd.DataFrame({"k": [1, 2], "v": [0.1234564999999, 1.0]})
    assert_frames_match(a, b, name="tol", mode="tolerance")
    with pytest.raises(AssertionError, match="round-6"):
        assert_frames_match(a, b, name="par", mode="parity")
    # ulp-drift away from a boundary passes BOTH (the driver-green class)
    c = pd.DataFrame({"k": [1], "v": [0.123456789]})
    d = pd.DataFrame({"k": [1], "v": [0.123456789 + 1e-13]})
    assert_frames_match(c, d, name="drift", mode="parity")


def test_parity_mode_nan_and_exact_equal():
    a = pd.DataFrame({"v": [np.nan, 2.5]})
    b = pd.DataFrame({"v": [np.nan, 2.5]})
    assert_frames_match(a, b, name="nan", mode="parity")


def test_whitening_audit_identity(spark):
    """Pinned property for the rows-only ZCA query: the whitened
    covariance equals V diag(lam/(lam+eps)) V^T — identity up to the
    eps floor, whose residue appears BOTH on the diagonal and (because
    D = lam/(lam+eps) is not a multiple of I in the original basis)
    off-diagonal, each bounded by eps/lam_min. For this corpus
    lam_min ~ 1e-2, so the bound is ~1e-4; assert at 1e-3 with
    headroom. A wrong W (bad eigh, transposed V, unsubtracted mean)
    produces O(1) errors, far above the bound."""
    from pyspark.sql import functions as F

    df = registry.QUERIES["embedding_whitening_audit"](spark, TEST_SF_DIR)
    r = df.agg(
        F.count("*").alias("n"),
        F.max("abs_err").alias("err"),
    ).collect()[0]
    assert r["n"] == 64 * 64
    assert r["err"] < 1e-3, f"identity deviation beyond eps bound: {r['err']}"


def test_exchange_reuse_share_reuses_shuffle(spark):
    """The share-of-total form must dedup the nation aggregate: one
    Exchange, a ReusedExchange (or reused stage under AQE) feeding the
    total branch — never two scans of lineitem."""
    df = registry.QUERIES["exchange_reuse_share"](spark, TEST_SF_DIR)
    plan = _executed_plan(df)
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[-2000:]
    n_scans = sum(
        1
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "lineitem" in ln
    )
    assert n_scans <= 1, f"lineitem scanned {n_scans}x"


def test_kneser_ney_discount_identity(spark):
    """Exact KN bookkeeping: for any context w1, the discounted
    probability mass over its OBSERVED continuations satisfies
    sum(max(c12-d,0))/c1 == 1 - d*n_right/c1 (every observed bigram
    has c12 >= 1 > d, so the max never clips). A wrong c1 (raw
    unigram counts instead of bigram-left counts) or wrong n_right
    breaks this identity immediately."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"""
        WITH toks AS (
          SELECT string_split_regex(lower(text), '\\s+') AS t
          FROM '{TEST_SF_DIR}/documents.parquet'
        ), bg AS (
          SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                 unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
          FROM toks
        ), cb AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2)
        SELECT w1, sum(greatest(c12 - 0.75, 0)) AS disc_mass,
               sum(c12) AS c1, count(*) AS n_right
        FROM cb GROUP BY w1 ORDER BY c1 DESC LIMIT 20
        """
    ).fetchall()
    assert rows
    for w1, disc_mass, c1, n_right in rows:
        lhs = disc_mass / c1
        rhs = 1.0 - 0.75 * n_right / c1
        assert abs(lhs - rhs) < 1e-12, (w1, lhs, rhs)


def test_span_corruption_plan_properties(spark):
    """The mask plan must be (a) in-bounds, (b) non-overlapping within
    each doc, (c) identical across runs (retry determinism)."""
    a = registry.QUERIES["curation_span_corruption"](spark, TEST_SF_DIR)
    rows = sorted(
        ((r["doc_id"], r["span_idx"], r["span_start"], r["span_len"],
          r["n_tokens"]) for r in a.collect())
    )
    assert rows
    by_doc: dict[int, list] = {}
    for doc, sidx, start, length, n_tok in rows:
        assert 0 <= start and start + length <= n_tok, (doc, start, n_tok)
        by_doc.setdefault(doc, []).append((start, length))
    for doc, spans in by_doc.items():
        spans.sort()
        for (s1, l1), (s2, _) in zip(spans, spans[1:]):
            assert s1 + l1 <= s2, f"overlap in doc {doc}: {spans}"
    again = sorted(
        ((r["doc_id"], r["span_idx"], r["span_start"], r["span_len"],
          r["n_tokens"]) for r in
         registry.QUERIES["curation_span_corruption"](spark, TEST_SF_DIR)
         .collect())
    )
    assert rows == again


def test_vad_integer_threshold_is_inclusive():
    """A window sitting EXACTLY at the threshold must count as active —
    the integer comparison that makes the boundary unambiguous (the
    float-rms formulation this replaces could flip it)."""
    import numpy as np
    import pandas as pd

    from history_collector_spark.queries.multimodal import (
        _AUDIO_WIN,
        _VAD_THRESHOLD,
        _audio_ssq_batches,
    )

    # build a window whose sum of squares is EXACTLY the inclusive
    # boundary THRESHOLD * WIN = 576000: 758^2 + 36^2 + 10^2 + 6^2 + 2^2
    target = _VAD_THRESHOLD * _AUDIO_WIN
    nonzero = [758, 36, 10, 6, 2]
    assert sum(v * v for v in nonzero) == target, "fixture drifted"
    samples = np.zeros(_AUDIO_WIN, dtype="<i2")
    samples[: len(nonzero)] = nonzero
    pdf = pd.DataFrame({"doc_id": [1], "data": [samples.tobytes()]})
    out = pd.concat(list(_audio_ssq_batches(iter([pdf]))))
    assert len(out) == 1
    ssq = int(out["ssq"].iloc[0])
    assert ssq == target
    # the query-side predicate is INCLUSIVE: exactly-at-threshold is active
    assert ssq >= _VAD_THRESHOLD * _AUDIO_WIN


def test_vad_reads_signed_pcm():
    """Regression for the round-7 audit finding: quiet NEGATIVE samples
    (high bit set, e.g. -1 = 0xFFFF) must produce tiny energy. The
    unsigned read this replaces scored a window of -1s as
    64 * 65535^2 (deafening) and marked silence as speech."""
    import numpy as np
    import pandas as pd

    from history_collector_spark.queries.multimodal import (
        _AUDIO_WIN,
        _VAD_THRESHOLD,
        _audio_ssq_batches,
    )

    quiet = np.full(_AUDIO_WIN, -1, dtype="<i2")  # bytes FF FF x 64
    loud = np.full(_AUDIO_WIN, -300, dtype="<i2")  # loud negative tone
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "data": [quiet.tobytes(), loud.tobytes()]}
    )
    out = pd.concat(list(_audio_ssq_batches(iter([pdf]))))
    ssq = dict(zip(out["doc_id"], (int(v) for v in out["ssq"])))
    assert ssq[1] == _AUDIO_WIN  # (-1)^2 per sample, signed
    assert ssq[1] < _VAD_THRESHOLD * _AUDIO_WIN, "silence flagged active"
    assert ssq[2] == _AUDIO_WIN * 300 * 300
    assert ssq[2] >= _VAD_THRESHOLD * _AUDIO_WIN, "loud tone must be active"


def test_water_filling_allocation_invariants(spark):
    """Water-filling must (a) spend exactly the budget when capping,
    (b) never exceed a source's demand, (c) be max-min fair: every
    capped source's allocation (the level) >= every uncapped demand."""
    rows = registry.QUERIES["curation_quota_water_filling"](
        spark, TEST_SF_DIR
    ).collect()
    assert rows
    total_demand = sum(r["demand"] for r in rows)
    budget = total_demand * 3 / 5
    total_alloc = sum(r["alloc"] for r in rows)
    assert abs(total_alloc - budget) < 1e-6 * budget
    capped_levels = {r["alloc"] for r in rows if r["capped"]}
    uncapped = [r for r in rows if not r["capped"]]
    for r in rows:
        assert r["alloc"] <= r["demand"] + 1e-9
    if capped_levels:
        level = min(capped_levels)
        for r in uncapped:
            assert r["demand"] <= level + 1e-9


def test_kmeans_training_monotone(spark):
    """Lloyd's algorithm guarantees WSS never increases across
    iterations; the elbow profile must also be weakly decreasing in k
    at the final iterate (richer models fit no worse on seeds that
    nest). Empty-cluster guard keeps n_empty bookkeeping honest."""
    rows = registry.QUERIES["cluster_kmeans_train"](
        spark, TEST_SF_DIR
    ).collect()
    assert rows
    by_k: dict[int, list] = {}
    for r in rows:
        by_k.setdefault(r["k"], []).append((r["iter"], r["wss"], r["n_empty"]))
    finals = {}
    for k, hist in by_k.items():
        hist.sort()
        assert [i for i, _, _ in hist] == list(range(len(hist)))
        for (_, w1, _), (_, w2, _) in zip(hist, hist[1:]):
            assert w2 <= w1 + 1e-9, f"k={k}: WSS increased {w1} -> {w2}"
        assert all(e >= 0 for _, _, e in hist)
        finals[k] = hist[-1][1]
    ks = sorted(finals)
    for ka, kb in zip(ks, ks[1:]):
        assert finals[kb] <= finals[ka] + 1e-6, (finals, "elbow not monotone")


def test_markov_stationary_fixed_point(spark):
    """pi must be a genuine fixed point of the row-normalized
    transition matrix (recomputed independently here) and a proper
    distribution."""
    import duckdb
    import numpy as np

    rows = registry.QUERIES["events_markov_stationary"](
        spark, TEST_SF_DIR
    ).collect()
    states = [r["state"] for r in rows]
    pi = np.array([r["stationary"] for r in rows])
    assert abs(pi.sum() - 1.0) < 1e-9
    assert (pi >= 0).all()
    con = duckdb.connect()
    pairs = con.sql(
        f"""
        WITH ordered AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM '{TEST_SF_DIR}/events.parquet'
        )
        SELECT prev, event_type, count(*) FROM ordered
        WHERE prev IS NOT NULL GROUP BY 1, 2
        """
    ).fetchall()
    idx = {s: i for i, s in enumerate(states)}
    n = len(states)
    P = np.zeros((n, n))
    for a, b, c in pairs:
        P[idx[a], idx[b]] = c
    rs = P.sum(axis=1, keepdims=True)
    P = np.where(rs > 0, P / np.where(rs == 0, 1, rs), 1.0 / n)
    assert np.abs(pi @ P - pi).max() < 1e-9


def test_binseg_changepoints(spark):
    """Binseg accounting invariant: the final segmentation's total SSE
    must equal the whole-series SSE minus the sum of reported gains —
    exact bookkeeping of every split. (Gains themselves are NOT
    monotone across greedy rounds: a split can unmask a sharper change
    inside a sub-segment.) Also: positive gains, unique split days."""
    import duckdb

    rows = sorted(
        registry.QUERIES["event_changepoints_binseg"](
            spark, TEST_SF_DIR
        ).collect(),
        key=lambda r: r["split_order"],
    )
    assert rows, "no changepoints found on the fixture series"
    gains = [r["sse_gain"] for r in rows]
    assert all(g > 0 for g in gains)
    days = sorted(r["change_day"] for r in rows)
    assert len(set(days)) == len(days)

    con = duckdb.connect()
    series = con.sql(
        f"""
        SELECT date_trunc('day', ts) AS day, count(*) AS n
        FROM '{TEST_SF_DIR}/events.parquet' GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    y = [float(n) for _, n in series]
    # DuckDB hands back date objects; Spark timestamps -> normalize
    day_set = {d.date() for d in days}
    cuts = [
        i
        for i, (d, _) in enumerate(series)
        if (d.date() if hasattr(d, "date") else d) in day_set
    ]
    assert len(cuts) == len(days)

    def sse(seg):
        m = sum(seg) / len(seg)
        return sum((v - m) ** 2 for v in seg)

    bounds = [0] + sorted(cuts) + [len(y)]
    final_sse = sum(
        sse(y[a:b]) for a, b in zip(bounds, bounds[1:]) if b > a
    )
    assert abs((sse(y) - sum(gains)) - final_sse) < 1e-6 * max(1.0, sse(y))


def test_markov_attribution(spark):
    """Knockouts only remove conversion paths, so p_conv_removed <=
    p_conv_full for every channel; attribution shares are a proper
    distribution; the purchase channel itself is absorbed into CONV
    (never listed)."""
    rows = registry.QUERIES["events_markov_attribution"](
        spark, TEST_SF_DIR
    ).collect()
    assert rows
    full = rows[0]["p_conv_full"]
    assert 0.0 < full <= 1.0
    assert all(abs(r["p_conv_full"] - full) < 1e-12 for r in rows)
    for r in rows:
        assert r["channel"] != "purchase"
        assert r["p_conv_removed"] <= full + 1e-9, r
        assert r["removal_effect"] >= 0.0
    assert abs(sum(r["attribution"] for r in rows) - 1.0) < 1e-9


def _greedy_lz_bound_ratio(text: str) -> float:
    """Reference implementation of the round-13 greedy-LZ cost bound
    (16-char overlapping shingles, 8-bit literals for first
    occurrences, one 24-bit back-ref per 16 repeated positions,
    32-bit header) — the pinned third opinion next to Spark and
    DuckDB."""
    K, L = 16, len(text)
    if L < K:
        bits = 32 + 8 * L
    else:
        n = L - K + 1
        d = len({text[i : i + K] for i in range(n)})
        bits = 32 + 8 * (d + K - 1) + 24 * ((n - d + 15) // 16)
    return ((bits + 7) // 8) / L


def test_compression_quality_signal(spark):
    """The signal must actually detect repetition: a 50x-repeated text
    compresses to a far smaller ratio than its single copy (and below
    the 0.4 suspicion threshold), and the corpus profile is sane
    (ratios positive, counts consistent)."""
    base = "the quarterly revenue grew across all regions this period "
    single = _greedy_lz_bound_ratio(base)
    repeated = _greedy_lz_bound_ratio(base * 50)
    assert repeated < single / 3, (single, repeated)
    assert repeated < 0.4 < single, (single, repeated)

    rows = registry.QUERIES["text_compression_quality"](
        spark, TEST_SF_DIR
    ).collect()
    assert rows
    for r in rows:
        assert 0 < r["min_ratio"] <= r["max_ratio"]
        assert r["min_ratio"] <= r["corpus_ratio"] <= r["max_ratio"] or (
            # corpus_ratio is length-weighted, so it can only escape the
            # per-doc envelope by float rounding in the last ulp
            abs(r["corpus_ratio"] - r["min_ratio"]) < 1e-9
            or abs(r["corpus_ratio"] - r["max_ratio"]) < 1e-9
        )
        assert 0 <= r["n_suspicious"] <= r["n_docs"]
        assert r["compressed_chars"] > 0 and r["raw_chars"] > 0


def test_entropy_rate_bounds(spark):
    """0 <= H(next|state) <= ln(n_states); weights form a distribution."""
    import math

    rows = registry.QUERIES["events_entropy_rate"](
        spark, TEST_SF_DIR
    ).collect()
    assert rows
    n_states = len({r["state"] for r in rows})
    cap = math.log(max(n_states, 2)) + 1e-9
    for r in rows:
        assert -1e-12 <= r["h_state"] <= cap, r
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-9


def test_kaplan_meier_properties(spark):
    """S is a survival curve: starts <= 1, non-increasing in t, stays
    non-negative, and only DROPS at steps with observed churn (pure
    censoring steps leave it flat)."""
    rows = sorted(
        registry.QUERIES["user_retention_kaplan_meier"](
            spark, TEST_SF_DIR
        ).collect(),
        key=lambda r: r["t_days"],
    )
    assert rows
    prev = 1.0
    for r in rows:
        s = r["km_survival"]
        assert 0.0 <= s <= prev + 1e-12, r
        if r["n_churn"] == 0:
            assert abs(s - prev) < 1e-12, f"flat step dropped: {r}"
        assert r["n_risk"] >= r["n_churn"] >= 0
        prev = s


def test_gini_closed_form_vs_pairwise(spark):
    """The ranked-sum closed form must equal the definitional
    mean-absolute-difference Gini, computed independently here."""
    import duckdb

    row = registry.QUERIES["customer_spend_gini"](
        spark, TEST_SF_DIR
    ).collect()[0]
    assert 0.0 <= row["gini"] < 1.0
    con = duckdb.connect()
    xs = [
        float(s)
        for (s,) in con.sql(
            f"""
            SELECT sum(o_totalprice) FROM '{TEST_SF_DIR}/orders.parquet'
            GROUP BY o_custkey
            """
        ).fetchall()
    ]
    n = len(xs)
    mu = sum(xs) / n
    mad = sum(abs(a - b) for a in xs for b in xs) / (n * n)
    gini_def = mad / (2 * mu)
    assert abs(row["gini"] - gini_def) < 1e-9, (row["gini"], gini_def)


def test_chi2_matches_direct_computation(spark):
    """Sum of per-cell chi2 terms must equal the chi-squared statistic
    computed independently from the raw contingency table."""
    import duckdb

    rows = registry.QUERIES["orders_chi2_independence"](
        spark, TEST_SF_DIR
    ).collect()
    assert rows
    chi2 = sum(r["chi2_term"] for r in rows)
    con = duckdb.connect()
    obs = con.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus, count(*)
        FROM '{TEST_SF_DIR}/orders.parquet' GROUP BY 1, 2
        """
    ).fetchall()
    from collections import defaultdict

    rt, ct, t = defaultdict(int), defaultdict(int), 0
    for p, s, n in obs:
        rt[p] += n
        ct[s] += n
        t += n
    direct = 0.0
    table_ = {(p, s): n for p, s, n in obs}
    for p in rt:
        for s in ct:
            e = rt[p] * ct[s] / t
            o = table_.get((p, s), 0)
            direct += (o - e) ** 2 / e
    assert abs(chi2 - direct) < 1e-9, (chi2, direct)
    # observed margins reproduced exactly in the emitted table
    assert sum(r["observed"] for r in rows) == t


def test_driver_window_hygiene():
    """Window invariants the rotation must never break: exactly 50
    unique names, all registered, all oracle-bearing (the window is
    the driver's hash gate — a rows-only entry would waste a slot),
    and registration order puts the window first."""
    pq = registry.PRIORITY_QUERIES
    assert len(pq) == 50 and len(set(pq)) == 50
    assert all(n in registry.QUERIES for n in pq)
    assert all(n in registry.ORACLES for n in pq)
    assert list(registry.QUERIES)[:50] == list(pq)


def test_coverage_doc_tracks_registry():
    """Docs-drift guard: every round-6 flagship name appears in
    COVERAGE.md, and COVERAGE.md never references a query name that
    does not exist in the registry (backtick-quoted names only)."""
    import os
    import re

    doc = open(
        os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    ).read()
    for name in (
        "multimodal_decode_png", "multimodal_decode_gif",
        "ann_pq_codebook_assign", "ann_pq_adc_topk",
        "retrieval_rrf_fusion", "embedding_whitening_audit",
        "streaming_scd2_cdc_e2e", "user_retention_kaplan_meier",
        "orders_chi2_independence", "customer_spend_gini",
    ):
        assert name in doc, f"{name} missing from COVERAGE.md"
    referenced = set(re.findall(r"`([a-z0-9_]+)`", doc))
    known = (
        set(registry.QUERIES)
        | {"queries", "oracle_sql", "tests", "region", "python"}
    )
    # names that LOOK like query ids (two+ underscores) must exist
    lookalikes = {
        r for r in referenced
        if r.count("_") >= 2 and not r.endswith((".py", ".md"))
        and "/" not in r and r not in known
    }
    # non-query lookalikes must at least exist somewhere in the
    # package or test source (function/module references)
    src_root = os.path.join(
        os.path.dirname(__file__), "..", "history_collector_spark"
    )
    corpus = []
    for base, _, files in os.walk(src_root):
        for f in files:
            if f.endswith(".py"):
                corpus.append(open(os.path.join(base, f)).read())
    for f in os.listdir(os.path.dirname(__file__)):
        if f.endswith(".py"):
            corpus.append(
                open(os.path.join(os.path.dirname(__file__), f)).read()
            )
    blob = "\n".join(corpus)
    ghosts = {r for r in lookalikes if r not in blob}
    assert not ghosts, f"COVERAGE.md references unknown names: {sorted(ghosts)}"
