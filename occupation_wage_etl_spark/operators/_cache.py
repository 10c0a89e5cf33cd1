"""Tracked operator-internal caching.

Several operators persist an intermediate (shingle tables, IVF cell
assignments, graph edge lists) because the SAME frame feeds two or more
downstream branches of the returned plan.  The persist must outlive the
function (the caller's action is what populates and reads it), so the
operator can't unpersist it itself — and a long-running session that
executes hundreds of such plans (the bench loop, a notebook, a
multi-query job) would otherwise accumulate dead cached blocks that
evict each other or spill.

``cached(df)`` persists AND registers the frame; the registry holds a
STRONG reference — a weakref would be dead by the time any harness
releases (operator-local wrappers are GC'd when the operator returns,
while the persisted RDD lives on in the JVM), which is exactly the
silent leak this module exists to prevent.  Driver-side DataFrame
wrappers are a few hundred bytes each, so holding them costs nothing.

Contract for harness loops (bench.py and the tools/ scripts): call
:func:`release_all` after each query's terminal action.  It drops the
tracked persists, the iterative operators' checkpoints and Spark's SQL
cache, so no query reads another one's cached blocks.

Contract for library callers (composing operators outside such a loop):

- wrap each unit of work in :func:`cached_scope` —

      with cached_scope():
          result = some_operator(df)
          result.write.parquet(...)      # the action that uses the cache

  every frame persisted inside the block is unpersisted on exit, even
  on error; or
- call :func:`release_cached` yourself after each terminal action.

Without one of the two, persisted blocks accumulate for the lifetime of
the session (Spark evicts under memory pressure, but MEMORY_AND_DISK
blocks then churn the disk store).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []


def cached(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` and register it for bulk release.

    Returns the same DataFrame (persist is in-place on the plan)."""
    df.persist(level)
    _TRACKED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every tracked frame; returns the count released.

    Safe to call at any point: unpersisting a frame that a NOT-YET-RUN
    plan references only costs recomputation, never correctness."""
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped
            pass
    _TRACKED.clear()
    return n


@contextmanager
def cached_scope():
    """Release every frame persisted INSIDE the block on exit — the
    library-caller lifecycle (see module docstring).  Frames tracked
    before entry are left alone, so scopes nest."""
    mark = len(_TRACKED)
    try:
        yield
    finally:
        tail, _TRACKED[mark:] = _TRACKED[mark:], []
        for df in tail:
            try:
                df.unpersist()
            except Exception:
                pass


def release_checkpoints(spark) -> int:
    """Unpersist ALL persistent RDDs left in the session — the
    ``localCheckpoint`` blocks written by the iterative operators
    (connected_components, bfs_hops, k_core, label_propagation), which
    :func:`release_cached` cannot see (they are RDD-level, not tracked
    SQL caches) and the OPERATOR cannot release (its output's lineage
    is truncated onto them, so dropping the blocks while the result is
    live would make the frame unrecomputable).

    HARNESS-LOOP ONLY: call between queries, when no operator output is
    still to be consumed (:func:`release_all` does).  Returns the number
    of RDDs unpersisted."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = int(jmap.size())
    for rdd in jmap.values():
        rdd.unpersist()
    return n


def release_all(spark) -> None:
    """The harness release step between two queries: tracked persists,
    then iterative checkpoints, then the SQL cache."""
    release_cached()
    release_checkpoints(spark)
    spark.catalog.clearCache()
