"""Persist-handle registry: a release path for operator-internal caches.

Several operators persist() intermediates that are read by multiple subplans
(LSH bucket tables, shingle inverted indexes, candidate pairs). The
DataFrames they return reference those caches lazily, so the operator cannot
know when its consumer is done and must not unpersist eagerly. This registry
keeps a handle to every such cache: ``free`` releases one the operator is
done with, and consumers release the rest with ``session.release(spark)``
once their results are materialized. Handles are STRONG references on
purpose: the operator-local DataFrame object dies at function exit while
its JVM cache blocks live on, so a weak handle would be gone exactly when
release is needed. The Python wrapper held here is tiny; the JVM-side
blocks are the real resource and exist either way until unpersisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_HANDLES: list[DataFrame] = []


def register(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() a DataFrame and record a releasable handle to it."""
    df.persist(storage_level) if storage_level is not None else df.persist()
    _HANDLES.append(df)
    return df


def free(df: DataFrame) -> None:
    """Unpersist one registered cache now and drop its handle (the
    ``_ckpt.free`` analog; a bare ``unpersist()`` leaves the handle)."""
    df.unpersist()
    if df in _HANDLES:
        _HANDLES.remove(df)


def release_caches() -> int:
    """Unpersist every registered cache; returns how many were released."""
    released = 0
    for df in _HANDLES:
        try:
            df.unpersist()
            released += 1
        except Exception:  # session already stopped — nothing to release
            pass
    _HANDLES.clear()
    return released
