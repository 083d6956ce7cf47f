"""localCheckpoint registry: a release path that actually frees blocks.

``DataFrame.unpersist()`` does NOT free localCheckpoint blocks — it only
uncaches SQL-cache entries, and a checkpointed DataFrame was never in the
SQL cache (verified empirically on Spark 4.1: after ``df.localCheckpoint
(eager=True)``, ``df.unpersist()``, ``catalog.clearCache()`` and
``qe.toRdd().unpersist()`` all leave the RDD blocks in the block manager).
The blocks only die when the JVM GCs the RDD reference and the
ContextCleaner notices — which in a long benchmark/ETL session means every
iterative operator (CC loops, PageRank supersteps, k-core peels, BPE
rounds) LEAKS one materialized RDD per round into the shared session,
inflating GC pressure and scheduling latency for everything that runs
after it (guide §5: unpersist when done).

The working release path is the RDD handle inside the checkpoint's
``LogicalRDD`` plan node: ``df._jdf.queryExecution().analyzed().rdd()
.unpersist()`` frees the blocks immediately.

Usage mirrors ``_cache``: ``checkpoint(df)`` materializes and registers,
and ``free(prev)`` frees one replaced round now. Freeing is safe once no
live DataFrame needs the blocks: a freed checkpoint does NOT recompute —
reading it raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — so operators free
only rounds they have already replaced, and final results are freed only
by the consumer via ``session.release(spark)`` (bench.py does this
between runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_HANDLES: list[DataFrame] = []


def _free_blocks(df: DataFrame) -> bool:
    """Free a checkpointed DataFrame's RDD blocks immediately (async)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            return True
    except Exception:  # session stopped / plan shape changed — best effort
        pass
    return False


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` + register the result for release."""
    ck = df.localCheckpoint(eager=True)
    _HANDLES.append(ck)
    return ck


def free(df: DataFrame) -> bool:
    """Free one registered checkpoint's blocks now and drop its handle.

    For loop bodies: call on the PREVIOUS round once the new round is
    materialized (the new round's eager checkpoint no longer references
    the old blocks).
    """
    ok = _free_blocks(df)
    try:
        _HANDLES.remove(df)
    except ValueError:
        pass
    return ok


def release_checkpoints() -> int:
    """Free every registered checkpoint; returns how many were freed.

    For library consumers, once results are materialized. Between bench
    queries this is what keeps the session flat: ``catalog.clearCache()``
    cannot touch these blocks.
    """
    released = 0
    for df in _HANDLES:
        if _free_blocks(df):
            released += 1
    _HANDLES.clear()
    return released
