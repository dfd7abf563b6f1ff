"""Tracked persist() handles for lazy operator builders.

Several operators (the dedup band/signature tables, the ANN band table, the
packing prefix-sum partition pin) persist a derived table that the RETURNED
DataFrame still references — the builder cannot unpersist before the
caller's action, so without tracking each call leaks a cached table for the
session lifetime (r4 ADVICE finding; a benchmark calling ``clearCache()``
masked it, library callers running many queries in one session accumulate
executor storage).

The fix is a registry: builders persist through :func:`track_persist`, and
callers release everything between logical queries with
:func:`release_persisted` (cheap no-op when empty). Operators that run their
own actions internally (``connected_components``, ``SnapshotStore``) keep
managing their handles directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def track_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` whose handle is registered for later bulk release."""
    handle = df.persist(storage_level) if storage_level is not None else df.persist()
    _PERSISTED.append(handle)
    return handle


def release_persisted() -> int:
    """Unpersist every tracked cached table; returns how many were released.

    Safe to call at any time — released handles recompute lazily if a
    still-live plan references them (correctness is unaffected; only the
    cache hit is lost), so call this BETWEEN queries, after actions.
    """
    n = len(_PERSISTED)
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
    return n
