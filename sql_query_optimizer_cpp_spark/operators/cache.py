"""Tracked DataFrame persistence shared by multi-pass operators.

The JVM-side cache outlives the Python DataFrame object, so each persisted
frame is held here (a DataFrame handle is just a plan reference — cheap)
until a long-lived session (the driver iterates every registry query in
one session) reclaims storage via :func:`release_cached`.  The persists
use MEMORY_AND_DISK explicitly: un-released caches are LRU-evicted by the
block manager (spilling to disk first), so accumulation degrades
gracefully rather than failing — but callers that materialize a result
should still call release_cached() when done.

A plan that is already cached (by an earlier call over the same plan, e.g.
a repeated rollup) is returned as is and not tracked again, so repeated
calls add no handle here.  In an engine session (``session._DEFAULTS``)
AQE coalesces each cached plan's final shuffle, so a cache over a shuffle
is stored and re-read at its data's size rather than as
``spark.sql.shuffle.partitions`` blocks; an explicit ``repartition(n)``
keeps its ``n`` partitions.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every cache created through :func:`persist_tracked`.

    Safe to call at any time (lazy re-computation kicks in if a released
    plan is re-executed).  Returns the number of frames released.
    """
    n = len(_PERSISTED)
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
    return n
