"""Tracked ``localCheckpoint`` handles with a release that actually
frees the blocks (VERDICT r13 #1).

``localCheckpoint`` pins its partitions in executor storage and those
blocks are NOT dropped by ``spark.catalog.clearCache()`` (which only
clears the SQL cache manager) nor by ``df.rdd.unpersist()``:
``DataFrame.rdd`` wraps the internal row RDD in a fresh deserializing
``MapPartitionsRDD`` whose own storage level is NONE, so unpersisting
it is a no-op (verified empirically on Spark 4.1 — the storage entry
survives).  The RDD that is actually persisted is the one captured by
the checkpointed Dataset's ``LogicalRDD`` node; this module reaches it
via ``queryExecution().analyzed().rdd()`` and unpersists THAT.

Ownership model: every checkpoint created through :func:`checkpoint`
is registered here, and only registered checkpoints are ever freed.
Call sites that know their checkpoint's lifetime (e.g. the CV
engine's fold table, dead once the metric pass ran) call
:func:`release` directly; checkpoints that escape to callers (OOF
tables, dedup pair tables) stay registered until the session owner —
the bench harness between passes, a pipeline at stage end — calls
:func:`release_all`.  Without an owner the blocks are reclaimed only
when the JVM ContextCleaner notices garbage, which in a long
many-query session means unbounded executor-storage growth.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_LIVE: dict[int, object] = {}  # rdd id -> py4j JVM RDD handle


def _ckpt_rdd(df: DataFrame):
    """The JVM RDD persisted by a ``localCheckpoint``-ed Dataset (the
    ``LogicalRDD`` node's RDD).  Raises for non-checkpointed frames."""
    return df._jdf.queryExecution().analyzed().rdd()


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` + registration for release.

    The returned frame carries the persisted-RDD handle as
    ``_ckpt_handle`` (a Python-side attribute: it survives only on
    this exact handle, like ``_plan_evidence`` in extensions.dedup).
    """
    ck = df.localCheckpoint(eager=eager)
    try:
        handle = _ckpt_rdd(ck)
    except Exception:
        return ck  # defensive: untracked, ContextCleaner fallback
    with _LOCK:
        _LIVE[handle.id()] = handle
    ck._ckpt_handle = handle
    return ck


def release(df: DataFrame) -> None:
    """Free the executor storage pinned by a checkpoint made through
    :func:`checkpoint` once the caller is done with it.  Only
    registered handles are released: on any other frame (plain, or a
    ``localCheckpoint``/RDD-backed frame this module did not create)
    this is a no-op, so storage owned elsewhere is never unpersisted.
    After release the frame CANNOT be recomputed — its lineage was
    truncated at the checkpoint — so only call this when every
    consumer has materialized (or no longer needs) the rows."""
    handle = getattr(df, "_ckpt_handle", None)
    if handle is None:
        return
    with _LOCK:
        if _LIVE.pop(handle.id(), None) is None:
            return  # already released (here or by release_all)
    try:
        handle.unpersist(False)
    except Exception:
        pass


def release_all() -> None:
    """Unpersist every live tracked checkpoint.  The bench harness
    calls this between passes (next to ``clearCache()``) so escaped
    checkpoints cannot accumulate across a multi-query session."""
    with _LOCK:
        live = list(_LIVE.values())
        _LIVE.clear()
    for handle in live:
        try:
            handle.unpersist(False)
        except Exception:
            pass


def live_count() -> int:
    """Number of tracked, unreleased checkpoints (test/debug hook)."""
    with _LOCK:
        return len(_LIVE)
