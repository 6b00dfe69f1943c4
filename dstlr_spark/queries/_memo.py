"""Session-scoped staged-frame memoization for the correctness gate.

Expensive derived frames shared by several driver-contract queries
(the dedup shingle posting list, the LSH band posting list, quantized
embeddings, the document KG's ``NativeKG``, the streaming queries'
staged source directories) are materialized ONCE per
(application, sf_dir) and reused by every consumer — the in-process analog of an Iceberg stage table
that all downstream jobs read. Staging uses ``localCheckpoint`` so
consumer plans read an ``ExistingRDD`` (no re-derivation, no lineage
growth), which the plan tests in tests/test_plans.py pin.

Keyed by ``applicationId`` (unique per SparkContext), never
``id(spark)``: CPython reuses object addresses after GC, so an
id-keyed cache could hand a new session frames belonging to a stopped
context. Entries of other applications are evicted on first touch by a
new one (one live context per process).
"""

from __future__ import annotations

from typing import Any, Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_CACHE: dict[tuple, Any] = {}


def staged(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """Return the memoized staged value for ``key``, building it on first
    use. A DataFrame is ``localCheckpoint``-ed; any other value (an
    object holding session-bound frames, a directory) is kept as built."""
    app_id = spark.sparkContext.applicationId
    full = (app_id, *key)
    df = _CACHE.get(full)
    if df is None:
        for stale in [k for k in _CACHE if k[0] != app_id]:
            del _CACHE[stale]
        df = build()
        if isinstance(df, DataFrame):
            df = df.localCheckpoint()
        _CACHE[full] = df
    return df
