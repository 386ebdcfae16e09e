"""Leak-controlled persist for rebuilt lazy plans.

The registry's memoize=False queries rebuild their DataFrames on every
invocation; a bare ``.persist()`` inside the builder then accrues one
CacheManager entry per call — the leak class the round-4 review fixed in
graph.py (there via localCheckpoint, which fits because graph ops RUN jobs
while building).  For plans that must stay LAZY, this helper keeps at most
one live cached instance per (slot, session): rebuilding the plan
unpersists the previous instance before persisting the new one.  The
blocks themselves are evicted lazily (blocking=False), so the unpersist is
metadata-cheap.

:func:`materialized` is the call-scoped counterpart: a relation that
several actions of ONE call reuse is computed once and released when the
call's ``with`` block exits, errors included.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

_live: dict[tuple[str, str], DataFrame] = {}
_lock = threading.Lock()


def session_is_dead(session) -> bool:
    """True when a CLASSIC session's SparkContext has stopped.  Under
    Spark Connect there is no _sc; treating "attribute absent" as dead
    would silently drop every live entry from whatever memo is being
    pruned, so a Connect-shaped session is never classified dead
    (ADVICE r6).  This is THE dead-session classification — every memo
    prune in the package (this module, the plan-registry memo, the
    llmdata shared-relation memo, the streaming drain-session cache)
    must route through it so the Connect exemption cannot drift
    (ADVICE r7)."""
    try:
        sc = getattr(session, "_sc", None)
        if sc is None:
            return False  # Connect session (or unknown shape): keep
        return sc._jsc is None  # cleared by sc.stop()
    except Exception:
        return True  # classic attrs present but gateway gone


def prune_dead_memo(memo: dict, keep_key=None) -> None:
    """Drop memoized DataFrames whose owning session is dead — the
    dead-session leak class of ADVICE r5/r6: module-level memos in a
    session-cycling driver (pytest per module) otherwise pin JVM plan
    handles for every stopped session forever.  ``keep_key`` exempts the
    entry the caller just inserted."""
    for k in list(memo):
        if k == keep_key:
            continue
        try:
            dead = session_is_dead(memo[k].sparkSession)
        except Exception:
            dead = True
        if dead:
            memo.pop(k, None)


def _prune_dead_sessions() -> None:
    """Drop entries whose SparkContext has stopped (caller holds _lock).
    The strong DataFrame references here would otherwise pin JVM plan
    handles for every stopped session in a long-lived driver process
    (ADVICE r5) — e.g. a pytest run that cycles sessions per module."""
    prune_dead_memo(_live)


def build_once(memo: dict, inflight: dict, lock, key, build, finalize=None):
    """Memoized build with per-key IN-FLIGHT dedup: exactly one thread
    runs ``build`` per key; concurrent first callers wait for the
    winner's stored result instead of double-building.

    Why waiting beats the plain double-checked insert (ADVICE r9): several
    registered builders call :func:`persist_latest` INTERNALLY, so a
    losing concurrent build re-enters the winner's persist slot and
    unpersists the handle the memo just stored — the memoized winner then
    silently recomputes while the loser's persisted copy sits unreferenced
    in ``_live`` until the slot's next rebuild.  De-duplicating the build
    kills that churn at the source instead of documenting it.

    Contract:

    - ``build()`` runs OUTSIDE ``lock`` — builders may consume other
      memoized relations guarded by the same lock (the dup_clusters →
      near_dup composition shape), and the locks here are non-reentrant.
    - The builder graph across keys must stay ACYCLIC.  That is not a new
      constraint: a key cycle under the old double-build would recurse
      without bound.  (Today: plan-memo nesting is one-directional and
      the llmdata shared sources are leaves.)
    - A re-entrant same-key call from the OWNING thread falls through to
      a direct un-memoized build — waiting on its own event would
      self-deadlock.  Defensive only; no current builder self-references.
      That direct build ALSO runs outside ``lock`` (ADVICE r10): a
      self-referencing builder that consumes any other memoized key
      guarded by the same non-reentrant lock would otherwise block on
      the lock its own frame still holds.
    - If ``build`` (or ``finalize``) raises, the in-flight marker is
      cleared and waiters retry — one becomes the new builder, the rest
      re-wait; the exception propagates to the failed builder's caller.
    - ``finalize(df)``, when given, runs under ``lock`` on the winner's
      result before insertion (persist + prune at the call sites); its
      return value is what gets memoized and returned.
    """
    me = threading.get_ident()
    while True:
        reentrant = False
        with lock:
            hit = memo.get(key)
            if hit is not None:
                return hit
            entry = inflight.get(key)
            if entry is None:
                ev = threading.Event()
                inflight[key] = (me, ev)
                break  # this thread is the builder
            owner, ev = entry
            reentrant = owner == me
        if reentrant:
            # Re-entrant same-key call: build directly, OUTSIDE the lock
            # (per the contract above) — under the lock, a self-
            # referencing builder that touches any other key guarded by
            # the same lock would deadlock on its own frame (ADVICE r10).
            return build()
        ev.wait()
        # winner finished (or failed) — loop re-checks memo / in-flight
    try:
        built = build()
        with lock:
            result = finalize(built) if finalize is not None else built
            memo[key] = result
        return result
    finally:
        with lock:
            inflight.pop(key, None)
        ev.set()


def persist_latest(df: DataFrame, slot: str, storage_level=None) -> DataFrame:
    """persist() with at most one live cached instance per (slot, session).
    Locked: an unsynchronized get-then-set would let two concurrent
    rebuilds of the same slot both persist, orphaning one cache entry —
    the exact leak this helper exists to prevent."""
    from data_engineering_etl_demo_spark.catalog import session_key

    key = (slot, session_key(df.sparkSession))
    with _lock:
        _prune_dead_sessions()
        prev = _live.pop(key, None)
        if prev is not None:
            try:
                prev.unpersist(blocking=False)
            except Exception:
                pass  # session gone / already unpersisted — nothing to free
        df = (
            df.persist(storage_level)
            if storage_level is not None
            else df.persist()
        )
        _live[key] = df
    return df


@contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` computed once, for the duration of the ``with`` block.

    ``localCheckpoint(eager=True)`` runs ``df`` in one job and cuts its
    lineage, so every later action over the returned relation reads the
    stored rows instead of re-running the plan.  The checkpoint keeps
    ``df``'s partitions and the row order inside each, so position-derived
    columns computed over it (``monotonically_increasing_id``) order rows
    exactly as over ``df``.  The blocks are released on exit, on error
    too; ``DataFrame.unpersist`` only touches the CacheManager, so the
    release goes to the RDD under the checkpoint's ``LogicalRDD``."""
    ck = df.localCheckpoint(eager=True)
    try:
        yield ck
    finally:
        ck._jdf.queryExecution().logical().rdd().unpersist(False)
