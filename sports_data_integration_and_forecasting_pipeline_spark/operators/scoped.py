"""Scoped registry: the one owner of every persist and local checkpoint the
operators and battery plans make, keyed by (SparkSession id, role) so one
session never frees a frame behind another session's pending result.

Re-registering a persist role frees its previous holder;
``release_caches()`` frees everything, and bench, probe and the oracle
sweep call it after every entry. A local checkpoint's blocks are the only
copy of its data: freeing one before its lazy consumer runs fails that
consumer with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. So a lone
``checkpoint_scoped`` is held under a role of its own per call, and only
``fixpoint`` replaces a checkpoint: each round's state frees its
predecessor, which no pending result reads, once it is materialized.
"""

from __future__ import annotations

import itertools
import threading
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

# (session id, role) -> (holder, is a local checkpoint)
_HELD: dict[tuple[int, str], tuple[DataFrame, bool]] = {}
# (operator, rounds, converged) per fixpoint call since the last release
_ROUNDS: list[tuple[str, int, bool]] = []
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


def _checkpoint(role: str, df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` held under ``role``; the previous holder is
    freed only after the new checkpoint is materialized."""
    out = df.localCheckpoint()
    with _LOCK:
        prev = _HELD.get((id(df.sparkSession), role))
        _HELD[(id(df.sparkSession), role)] = (out, True)
        if prev is not None:
            _free(*prev)
    return out


def checkpoint_scoped(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()``, held until ``release_caches()``."""
    return _checkpoint(f"checkpoint_{call_tag()}", df)


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    progress: Column,
    max_rounds: int,
) -> tuple[DataFrame, int, bool]:
    """Iterate ``state = step(state)`` until a round changes nothing.

    The seed and each round are checkpointed under one per-call role, so
    a round reads a flat table, and frees its predecessor once it is
    materialized. The aggregate ``progress`` (unchanged only when no row
    changed) is observed on each checkpoint job; the loop stops at the
    first round whose progress equals the previous one, or after
    ``max_rounds``. Returns ``(state, rounds, converged)`` and notes
    ``(name, rounds, converged)`` for :func:`round_notes`.
    """
    role = f"{name}_{call_tag()}"

    def materialize(df: DataFrame):
        obs = Observation()
        out = _checkpoint(role, df.observe(obs, progress.alias("progress")))
        return out, obs.get["progress"]

    state, prev = materialize(state)
    rounds, converged = 0, False
    while rounds < max_rounds and not converged:
        rounds += 1
        state, cur = materialize(step(state))
        converged, prev = cur == prev, cur
    with _LOCK:
        _ROUNDS.append((name, rounds, converged))
    return state, rounds, converged


def round_notes() -> list[tuple[str, int, bool]]:
    """The ``fixpoint`` notes since the last ``release_caches()``."""
    with _LOCK:
        return list(_ROUNDS)


def release_caches() -> None:
    """Free every persist and checkpoint held, and clear the round notes."""
    with _LOCK:
        for held in _HELD.values():
            _free(*held)
        _HELD.clear()
        _ROUNDS.clear()
