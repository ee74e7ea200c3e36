"""Persist bookkeeping for multi-consumer intermediates.

The dedup/link operators persist frames that feed several downstream
consumers (inverted indexes, gram arrays, simhash bands, the LSH miss
set). Those persists are intentionally left alive after the operator
returns -- the returned DataFrames are lazy and still reference them;
Spark evicts LRU under memory pressure, so a single sweep degrades
gracefully. But a long-lived session sweeping MANY corpora shouldn't
rely on LRU: wrap each sweep in ``cache_scope()`` and every frame
persisted (via ``persist_tracked``) inside the block is released on
exit.

    with cache_scope():
        pairs = minhash_lsh_pairs(docs).collect()   # actions INSIDE
    # all operator-internal persists are unpersisted here

Unpersisting is safe at any point -- later actions on the returned
frames recompute instead of failing -- but collect results you need
before leaving the scope or you pay the recompute.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# thread-LOCAL scope stack: two threads sweeping different corpora on
# one driver each get their own stack, so thread A's persists never
# land in (and get released by) thread B's scope
_tls = threading.local()


def _stack() -> list[list[DataFrame]]:
    if not hasattr(_tls, "scopes"):
        _tls.scopes = []
    return _tls.scopes


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """persist() that registers the frame with the innermost active
    cache_scope OF THIS THREAD (no-op registration when none is active
    -- the r2 leak-to-LRU behavior)."""
    df = df.persist(level)
    scopes = _stack()
    if scopes:
        scopes[-1].append(df)
    return df


@contextlib.contextmanager
def cache_scope():
    """Release every persist_tracked frame created inside the block (in
    this thread) on exit (also on error). Yields the live list for
    inspection."""
    frames: list[DataFrame] = []
    scopes = _stack()
    scopes.append(frames)
    try:
        yield frames
    finally:
        # scopes exit LIFO, so pop by position -- remove() matches by
        # VALUE and two empty lists compare equal, so a nested inner
        # scope would pop the OUTER scope's list instead and leak its
        # subsequent persists
        popped = scopes.pop()
        assert popped is frames, "cache_scope stack corrupted"
        for df in frames:
            df.unpersist()


def release_checkpoint(*frames: DataFrame) -> None:
    """Drop the blocks of ``localCheckpoint`` frames, which
    ``df.unpersist()`` does not reach and a live reference keeps for the
    session's life. Reading a frame afterwards fails: release it only
    once every frame that reads it is materialized."""
    for df in frames:
        df._jdf.logicalPlan().rdd().unpersist(False)
