"""Scoped registry: the one owner of every persist and local checkpoint the
operators and battery plans make, keyed by (SparkSession id, role) so one
session never frees a frame behind another session's pending result.

Re-registering a role frees its previous holder; ``release_caches()`` frees
everything, and bench, probe and the oracle sweep call it after every
entry. A local checkpoint's blocks are the only copy of its data: freeing
one before its lazy consumer runs fails that consumer with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. So a checkpoint role is re-registered
only where the old holder is dead (a fixpoint round replacing its
predecessor), and a caller whose results may be pending side by side takes
a per-call role from ``call_tag()``.
"""

from __future__ import annotations

import itertools
import threading

from pyspark.sql import DataFrame

# (session id, role) -> (holder, is a local checkpoint)
_HELD: dict[tuple[int, str], tuple[DataFrame, bool]] = {}
_LOCK = threading.Lock()
call_tag = itertools.count().__next__  # a process-unique number per call


def _free(df: DataFrame, checkpoint: bool) -> None:
    if checkpoint:
        # a checkpoint plans as a LogicalRDD; Dataset.unpersist() skips it
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    else:
        df.unpersist()


def persist_scoped(role: str, df: DataFrame) -> DataFrame:
    key = (id(df.sparkSession), role)
    with _LOCK:
        prev = _HELD.get(key)
        if prev is not None and prev[0] is df:
            # Re-registering the SAME DataFrame (e.g. a caller eagerly
            # materialized it under this role before passing it down) is a
            # no-op — unpersist+repersist here would silently drop the
            # already-computed blocks and force a recompute.
            return df
        if prev is not None:
            _free(*prev)
        _HELD[key] = (df.persist(), False)
    return df


def checkpoint_scoped(role: str, df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` held under ``role``; the previous holder is
    freed only after the new checkpoint is materialized."""
    out = df.localCheckpoint()
    with _LOCK:
        prev = _HELD.get((id(df.sparkSession), role))
        _HELD[(id(df.sparkSession), role)] = (out, True)
        if prev is not None:
            _free(*prev)
    return out


def release_caches() -> None:
    """Free every persist and checkpoint the registry holds."""
    with _LOCK:
        for held in _HELD.values():
            _free(*held)
        _HELD.clear()
