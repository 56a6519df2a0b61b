"""The one owner of every persisted frame and driver-created broadcast the
engine releases later.

Operators persist a frame when its plan consumes it more than once (a
sizing aggregate plus a kernel, both sides of a self-join, a stream-static
join that re-reads its static side every micro-batch), and broadcast
driver-built values (chunked right-side matrices, codebooks, centroids,
SIF weight maps, PC vectors). The plan handed back to the caller still
reads them lazily, so the operator cannot release them itself. Instead:

  * ``tracked_persist(df)`` persists a frame and registers it here;
    ``tracked_broadcast(sc, value)`` broadcasts a value and registers it.
    The strong reference also keeps GC-triggered ContextCleaner from
    removing the blocks at a nondeterministic time — in local mode
    executor and driver share one ``BlockInfoManager``, and GC-timed
    removal while a later job's tasks hold read locks is the
    ``TorrentBroadcast`` race behind VERDICT r5 #2.
  * ``release_tracked()`` is the single release point. Callers (the
    checkpoint plan's candidates-stage boundary, each bench repeat, each
    test) call it strictly AFTER the consuming action. It unpersists every
    registered frame and calls ``Broadcast.unpersist(blocking=False)`` on
    every broadcast: executor copies are dropped but the driver-side
    value stays.

Contract: a release can only cause a recompute, never a wrong answer. A
stale plan executed after the release re-reads its lineage and
re-broadcasts from the driver-held value.
"""

from __future__ import annotations

from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[Any] = []  # broadcasts
_FRAMES: list[DataFrame] = []  # persisted frames


def tracked_broadcast(sc, value):
    """``sc.broadcast(value)``, registered for deterministic release."""
    bc = sc.broadcast(value)
    _TRACKED.append(bc)
    return bc


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` (the default is ``DataFrame.persist``'s),
    registered for deterministic release; returns the persisted frame."""
    _FRAMES.append(df.persist(level))
    return df


def release_tracked() -> None:
    """Unpersist every registered frame and (non-blocking) every tracked
    broadcast. Safe at any time after the consuming job finished; a later
    action on an old plan recomputes and re-broadcasts rather than fail."""
    while _FRAMES:
        _FRAMES.pop().unpersist()
    while _TRACKED:
        bc = _TRACKED.pop()
        try:
            bc.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped or broadcast already cleaned
