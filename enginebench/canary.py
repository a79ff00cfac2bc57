"""The 20-query canary: a fixed cross-family sample of registered queries.

The list is a copy of the engine's bench canary, frozen here so that the
benchmark keeps measuring the same work when the engine's own lists change.
The comparison rules follow the repository's oracle-comparison helper in
tolerance mode: same column names, same row count, rows matched after an
order-insensitive sort, floats within rtol = atol = 1e-6, everything else
equal as strings. Rows are sorted by their typed values rather than by
their string form, which is the same multiset comparison at a fraction of
the cost on large results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

CANARY = (
    "account_history",
    "group_agg_pricing",
    "topn_per_group",
    "event_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "text_tfidf_topterms",
    "text_language_id",
    "curation_quality_pipeline",
    "explode_txset",
    "broadcast_lookup_time",
    "asof_join_last_signup",
    "trailing_hour_sum",
    "streaming_window_counts",
    "streaming_zscore_e2e",
    "multimodal_decode",
    "embedding_quantize",
    "pipeline_parity",
)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.floor("us").astype("datetime64[us]")
        elif s.dtype == object:
            if s.map(lambda v: isinstance(v, (list, tuple, np.ndarray))).any():
                df[c] = s.map(
                    lambda v: tuple(np.round(np.asarray(v, dtype="float64"), 6))
                    if v is not None
                    else None
                )
            else:
                try:
                    df[c] = s.astype("float64")
                except (ValueError, TypeError):
                    df[c] = s.astype("string")
    return df


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    """Rows ordered by every column, left to right; tuple cells (vectors)
    sort by their string form."""
    keys = pd.DataFrame(
        {c: df[c].map(str) if df[c].dtype == object else df[c] for c in df.columns}
    )
    if keys.empty:
        return df.reset_index(drop=True)
    order = keys.sort_values(list(keys.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match under the rules above, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    a, b = _sorted(_normalize(got)), _sorted(_normalize(want))
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            an = av.fillna(np.nan).to_numpy(dtype="float64")
            bn = bv.fillna(np.nan).to_numpy(dtype="float64")
            if not np.allclose(an, bn, rtol=1e-6, atol=1e-6, equal_nan=True):
                return f"float column {c!r} differs"
        else:
            eq = av.astype("string").fillna("\0") == bv.astype("string").fillna("\0")
            if not eq.all():
                return f"column {c!r} differs at {int((~eq).sum())} rows"
    return None
