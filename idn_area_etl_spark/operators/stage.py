"""Staging of shared intermediates.

:func:`_stage` materializes a frame once so several downstream
consumers read stored blocks instead of re-running an expensive
lineage (regex shingle scans, Python fingerprint passes), or so they
all see ONE physical layout (the rank helpers in ``ranks.py``).

Staging is not action-free.  The default lazy ``localCheckpoint``
plans its subtree when it is called, and planning the adaptive plan
runs the subtree's shuffle stages there and then: a fuzzy
``curate()`` call runs two Spark jobs for the MinHash sketch, so a
builder that stages holds execution time, not only plan building.

The calling thread picks the mode:

- inside :func:`staging_disabled`: no staging, ``df`` comes back
  unchanged (plan audits);
- inside :func:`staged_scope`: ``persist(MEMORY_AND_DISK)``, released
  when the scope exits;
- otherwise: lazy ``localCheckpoint(MEMORY_AND_DISK)``.

Scope rule: share intermediates inside a scope, keep nothing after it.
Persist is not the default because a persisted frame stays in the
session-wide cache until it is unpersisted and is substituted into
later queries that contain the same subtree; only a scope that
unpersists on exit makes it safe.

:func:`_round` materializes one round of a driver-paced loop, with
its metrics observed and the previous round released.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.storagelevel import StorageLevel


class _ThreadState(threading.local):
    """Per-thread staging state: ``scopes`` is the stack of live
    :func:`staged_scope` buckets, ``disabled`` the depth of
    :func:`staging_disabled` blocks.  Thread-local, so one driver
    thread's scope or audit never changes how another thread stages."""

    def __init__(self) -> None:
        self.scopes: list[list[DataFrame]] = []
        self.disabled = 0


_STATE = _ThreadState()


def _stage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once for its downstream consumers.

    Serialized storage (``MEMORY_AND_DISK``): sketch rows carry long
    arrays, and deserialized Java object caching at millions of rows
    is GC-hostile; Tungsten-serialized blocks are ~4× smaller.

    The default lazy ``localCheckpoint`` pins its blocks until RDD
    garbage collection or session end and truncates lineage, so losing
    an executor makes downstream jobs fail instead of recomputing.
    That is right for bounded batch jobs; long-lived sessions wrap
    their calls in :func:`staged_scope`, whose persisted frames keep
    recomputable lineage and are released on exit."""
    if _STATE.disabled:
        return df
    if _STATE.scopes:
        staged = df.persist(StorageLevel.MEMORY_AND_DISK)
        _STATE.scopes[-1].append(staged)
        return staged
    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)


def _round(
    df: DataFrame, metrics: Sequence[Column] = (), prev: DataFrame | None = None
) -> tuple[DataFrame, dict[str, Any]]:
    """One round of a driver-paced loop: ``df`` checkpointed eagerly
    with ``metrics`` observed, then ``prev`` released (:func:`_release`).

    The eager checkpoint's own job fills the observed metrics, so a
    round's convergence value or next choice costs no separate action.
    A choice is a ``min_by``/``max_by`` over a total-order key: among
    tied keys they pick arbitrarily.  Returns the checkpoint and the
    metrics by alias."""
    obs = Observation()
    out = (df.observe(obs, *metrics) if metrics else df).localCheckpoint(eager=True)
    _release(prev)
    return out, obs.get if metrics else {}


def _release(*frames: DataFrame | None) -> None:
    """Drop the blocks of the :func:`_round` checkpoints among
    ``frames``; anything else is left alone.  Reading a released
    checkpoint fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, so
    release only rounds no later plan reads."""
    for df in frames:
        if df is not None:
            plan = df._jdf.queryExecution().logical()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(True)


@contextmanager
def staging_disabled():
    """Make :func:`_stage` a no-op on this thread for the block.

    For plan audits (``tools/broadcast_audit.py`` and the registry-wide
    sweeps in ``tests/test_plan_quality.py``): staging replaces a
    subtree with an opaque ``Scan ExistingRDD`` that the classifiers
    cannot see through, so a data-scaled frame behind the checkpoint
    would mechanically look bounded.  Staging never changes values,
    only where the pipeline is cut, so the un-staged plan is the right
    object to audit.  Blocks nest."""
    _STATE.disabled += 1
    try:
        yield
    finally:
        _STATE.disabled -= 1


@contextmanager
def staged_scope():
    """Bound the lifetime of staged intermediates to a ``with`` block.

    Inside the block, :func:`_stage` on this thread persists
    (recomputable lineage, the only mode whose blocks can be released)
    and on exit every frame staged inside the block is unpersisted, so
    long-lived sessions (notebooks, services) can call rank helpers and
    dedup sketch builders repeatedly without accumulating pinned
    full-dataset copies::

        with staged_scope():
            ranked = global_row_number(df, [F.col("k")]).collect()
        # staged blocks released here

    Results must be consumed (or themselves persisted) inside the
    block: after exit a returned DataFrame recomputes its staged
    lineage on the next action — correct, just no longer cached.
    Scopes nest; each releases only its own frames.  Other threads
    are unaffected: they keep staging with ``localCheckpoint``."""
    bucket: list[DataFrame] = []
    _STATE.scopes.append(bucket)
    try:
        yield
    finally:
        _STATE.scopes.pop()
        for staged in bucket:
            try:
                # blocking: block removal is otherwise asynchronous, so
                # "released on exit" would be eventually-true only (and
                # storage-count assertions could race); the wait is
                # negligible next to the staged computation itself
                staged.unpersist(blocking=True)
            except Exception:  # noqa: BLE001 — best-effort release
                pass
