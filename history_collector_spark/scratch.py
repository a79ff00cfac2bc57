"""The one home of query scratch files.

Every file a query writes for itself (fixtures, replay feeds, landing
and sink dirs, bucketed tables) goes into a ``scratch_dir`` under the
session's ``SparkFiles`` root, a per-application dir that Spark deletes
on ``spark.stop()``. Nothing a query writes outlives its session, and
nothing is found again by name: ``per_session`` memoizes a builder on
(session, builder, args), so two corpora that share a basename never
share a fixture, and a build that raised leaves no memo entry behind.
"""

from __future__ import annotations

import functools
import os
import tempfile
from collections.abc import Callable

from pyspark import SparkFiles
from pyspark.sql import SparkSession

# (applicationId, builder, *args) -> dir
_memo: dict[tuple, str] = {}


def scratch_dir(prefix: str) -> str:
    """A fresh, empty dir under the active session's ``SparkFiles`` root."""
    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


def per_session(build: Callable[..., str]) -> Callable[..., str]:
    """Memoize ``build(spark, *args) -> dir`` per (session, builder, args).
    A new session builds its own; a dir that has gone is rebuilt.
    ``__wrapped__`` is the unmemoized builder."""

    @functools.wraps(build)
    def cached(spark: SparkSession, *args) -> str:
        key = (spark.sparkContext.applicationId, build, *args)
        if key not in _memo or not os.path.isdir(_memo[key]):
            _memo[key] = build(spark, *args)
        return _memo[key]

    return cached
