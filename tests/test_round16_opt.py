"""Round-16 optimization tests: shard-packed streaming state.

The r16 optimization round re-keyed the Python stateful trackers
(EWMA / z-score / Page-Hinkley: user_id -> user_id % n_shards; the
near-dup bucket tracker: (band, bucket) -> hash % n_shards) so one
micro-batch pays O(shards) Python group dispatches instead of one per
key. These tests pin the contract that made the change safe: every
per-key value sequence is IDENTICAL to the straightforward per-key
recursion, across batch boundaries, because rows are processed in
(ts, event_id) order within the shard.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from history_collector_spark.streaming.stateful import (
    make_ewma_tracker,
    make_page_hinkley_tracker,
    make_zscore_tracker,
)
from history_collector_spark.queries.neardup_stream import (
    _bucket_pair_tracker,
    shard_pair_tracker,
)
from history_collector_spark.streaming.conf import python_state_partitions


class _FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def _batches():
    """Two micro-batches, 3 users interleaved, deliberately unsorted."""
    b1 = pd.DataFrame(
        {
            "event_id": [4, 1, 2, 3, 6],
            "ts": [4, 1, 2, 3, 6],
            "user_id": [7, 7, 8, 9, 8],
            "value": [10.0, 2.0, 5.0, -1.0, 5.0],
        }
    )
    b2 = pd.DataFrame(
        {
            "event_id": [9, 7, 8],
            "ts": [9, 7, 8],
            "user_id": [8, 7, 9],
            "value": [4.0, 6.0, 0.5],
        }
    )
    return [b1, b2]


def _run_tracker(make, batches):
    st = _FakeState()
    rows = []
    for b in batches:
        for out in make(tuple(["shard0"]), iter([b]), st):
            rows.append(out)
    # one dtype for every frame: an all-None z column (the first batch's)
    # would otherwise make pandas warn about how it picks result dtypes
    return pd.concat([r.astype(object) for r in rows], ignore_index=True)


def test_shard_ewma_matches_per_user_recursion():
    alpha = 0.2
    out = _run_tracker(make_ewma_tracker(alpha), _batches())
    got = dict(zip(out["event_id"], out["ewma"]))
    # hand recursion per user over (ts, event_id)-ordered rows
    all_rows = pd.concat(_batches(), ignore_index=True)
    for u, g in all_rows.groupby("user_id"):
        y = None
        for _, r in g.sort_values(["ts", "event_id"]).iterrows():
            x = float(r["value"])
            y = x if y is None else alpha * x + (1 - alpha) * y
            assert got[r["event_id"]] == y  # bit-equal, not approx


def test_shard_zscore_matches_per_user_welford():
    out = _run_tracker(make_zscore_tracker(), _batches())
    got = dict(zip(out["event_id"], out["z"]))
    all_rows = pd.concat(_batches(), ignore_index=True)
    for u, g in all_rows.groupby("user_id"):
        n, mean, m2 = 0, 0.0, 0.0
        for _, r in g.sort_values(["ts", "event_id"]).iterrows():
            x = float(r["value"])
            z = (x - mean) / math.sqrt(m2 / (n - 1)) if n >= 2 and m2 > 0 else None
            have = got[r["event_id"]]
            if z is None:
                assert have is None or (
                    isinstance(have, float) and math.isnan(have)
                )
            else:
                assert have == z
            n += 1
            d = x - mean
            mean += d / n
            m2 += d * (x - mean)


def test_shard_page_hinkley_matches_per_user_recursion():
    delta, lam = 0.1, 3.0
    out = _run_tracker(make_page_hinkley_tracker(delta, lam), _batches())
    got = dict(zip(out["event_id"], out["ph"]))
    all_rows = pd.concat(_batches(), ignore_index=True)
    for u, g in all_rows.groupby("user_id"):
        n, sumv, mt, minm = 0, 0.0, 0.0, None
        for _, r in g.sort_values(["ts", "event_id"]).iterrows():
            x = float(r["value"])
            n += 1
            sumv += x
            mean = sumv / n
            mt += x - mean - delta
            minm = mt if minm is None else min(minm, mt)
            assert got[r["event_id"]] == mt - minm


def test_shard_state_survives_batches_packed():
    """The shard state round-trips (users, values) arrays: user 7's
    memory from batch 1 must seed batch 2's first row."""
    alpha = 0.5
    st = _FakeState()
    track = make_ewma_tracker(alpha)
    (o1,) = track(
        ("s",),
        iter([pd.DataFrame(
            {"event_id": [1], "ts": [1], "user_id": [7], "value": [10.0]}
        )]),
        st,
    )
    assert list(o1["ewma"]) == [10.0]
    users, ys = st.get
    assert list(users) == [7] and list(ys) == [10.0]
    (o2,) = track(
        ("s",),
        iter([pd.DataFrame(
            {"event_id": [2], "ts": [2], "user_id": [7], "value": [20.0]}
        )]),
        st,
    )
    assert list(o2["ewma"]) == [0.5 * 20.0 + 0.5 * 10.0]


def test_shard_pair_tracker_matches_per_bucket():
    """Pairs from the shard-packed tracker equal the union of the
    per-bucket tracker's pairs over the same arrivals, across two
    batches, for a shard holding TWO buckets."""
    b1 = pd.DataFrame(
        {"doc_id": [3, 1, 10], "band": [0, 0, 1], "bucket": ["x", "x", "y"]}
    )
    b2 = pd.DataFrame(
        {"doc_id": [5, 12], "band": [0, 1], "bucket": ["x", "y"]}
    )
    st = _FakeState()
    got = []
    for b in (b1, b2):
        for out in shard_pair_tracker(("s",), iter([b]), st):
            got.extend(zip(out["doc_a"], out["doc_b"]))
    # reference: run the per-bucket tracker per (band, bucket)
    want = []
    for band, bucket in ((0, "x"), (1, "y")):
        pst = _FakeState()
        for b in (b1, b2):
            rows = b[(b["band"] == band) & (b["bucket"] == bucket)]
            for out in _bucket_pair_tracker(
                (band, bucket), iter([rows[["doc_id"]]]), pst
            ):
                want.extend(zip(out["doc_a"], out["doc_b"]))
    assert sorted(got) == sorted(want)
    # state is bounded: doc ids only, grouped by the two buckets
    bands, buckets, members = st.get
    packed = {
        (b, bk): sorted(m) for b, bk, m in zip(bands, buckets, members)
    }
    assert packed == {(0, "x"): [1, 3, 5], (1, "y"): [10, 12]}


def test_python_state_partitions_key_bound(spark):
    full = python_state_partitions(spark)
    assert full == spark.sparkContext.defaultParallelism
    assert python_state_partitions(spark, key_bound=2) == 2
    assert python_state_partitions(spark, key_bound=10**9) == full
    assert python_state_partitions(spark, key_bound=0) == 1
