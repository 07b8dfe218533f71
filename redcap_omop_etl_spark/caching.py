"""The one materialization primitive and the one session memo.

Every operator-internal materialization goes through ``materialize`` and
every cross-query memo through ``session_memo``; nothing else in the
package calls ``.cache()``, ``.persist()`` or ``.localCheckpoint()``
(``tests/test_caching.py`` lints this).

``materialize(df, mode)`` — ``mode`` is one of:

- ``"eager"`` (default): eager localCheckpoint. One job now, and the
  returned frame's plan is a leaf (a PLAN barrier), so downstream
  actions re-plan from the barrier instead of re-analyzing the upstream
  lineage — the tick/transition boundary materialization.
- ``"lazy"``: lazy localCheckpoint. No job now; the first action over
  the frame materializes it as a side effect (iterative loops whose
  per-round probe is that action).
- ``"persist"``: ``DataFrame.persist()`` for an intermediate that feeds
  several branches of one plan; recomputable after release.

Ownership. A materialization belongs to whoever was running when it was
made: the innermost ``session_memo`` build in progress, otherwise the
operator layer. Session owners (bench, oracle sweep, maintenance loop,
streaming micro-batch handler, a ``cli.main`` run) call
``unpersist_operator_caches()`` at their composition boundaries to free
everything the operator layer made; memo-owned blocks survive that call
and are freed only by ``clear_session_memos()``, which also drops the
memo entries (the next call rebuilds). Caller-created caches are never
touched.

Release contract. A checkpoint is registered by its RDD id alone and
released with ``SparkContext.unpersistRDD`` — deterministic, and it
pins nothing, so a session that never releases still gets the
ContextCleaner's garbage-collected cleanup. A checkpoint is NOT
recomputable: an action on a released checkpoint frame (or anything
derived from it) raises, it never returns rows. So release only at a
boundary after the outputs are collected, written or re-materialized,
never mid-plan; a pin shared across several consumers (a micro-batch's
ids shared by every applier) is released once, after the last consumer.
A released ``"persist"`` frame simply recomputes on its next action.

``session_memo(spark, key, build)`` returns ``build()``'s value, built
once per (``applicationId``, ``key``) — keyed by the application so a
stopped session's checkpoints are never served to its successor. The
first element of ``key`` names the memo; the rest is its corpus (and
whatever else selects the entry).
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")
Release = Callable[[bool], None]  # frees one materialization's blocks

_OPERATOR_OWNED: list[Release] = []
_MEMOS: dict[tuple, tuple[object, list[Release]]] = {}
_OWNERS: list[list[Release]] = [_OPERATOR_OWNED]  # innermost last


def materialize(df: DataFrame, mode: str = "eager") -> DataFrame:
    """Materialize ``df`` (see the module docstring for the modes) and
    register its release with the current owner."""
    if mode == "persist":
        out = df.persist()

        def release(blocking: bool) -> None:
            out.unpersist(blocking=blocking)

    elif mode in ("eager", "lazy"):
        out = df.localCheckpoint(eager=mode == "eager")
        # The blocks belong to the LogicalRDD's backing RDD, which
        # df.unpersist() does not reach (it only consults the SQL
        # CacheManager); holding the id and the context, not the frame,
        # leaves garbage-collected cleanup intact.
        sc = out.sparkSession.sparkContext
        rdd_id = out._jdf.queryExecution().logical().rdd().id()

        def release(blocking: bool) -> None:
            if sc._jsc is not None:  # a stopped context freed everything already
                sc._jsc.sc().unpersistRDD(rdd_id, blocking)

    else:
        raise ValueError(f"materialize mode: {mode!r}")
    _OWNERS[-1].append(release)
    return out


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """``build()`` once per (application, ``key``); materializations made
    while it runs belong to the memo entry."""
    full = (spark.sparkContext.applicationId, *key)
    if full in _MEMOS:
        return _MEMOS[full][0]
    owned: list[Release] = []
    _OWNERS.append(owned)
    try:
        value = build()
    finally:
        _OWNERS.pop()
    _MEMOS[full] = (value, owned)
    return value


def _release(releases: list[Release], blocking: bool) -> int:
    n = len(releases)
    for release in releases:
        try:
            release(blocking)
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    releases.clear()
    return n


def clear_session_memos() -> int:
    """Drop every session memo and free the blocks its build made;
    returns how many entries were dropped. The next call re-builds."""
    n = len(_MEMOS)
    for _value, owned in _MEMOS.values():
        _release(owned, blocking=False)
    _MEMOS.clear()
    return n


def unpersist_operator_caches(blocking: bool = False) -> int:
    """Free every operator-owned materialization; returns how many.
    Idempotent; memo-owned blocks are left alone."""
    return _release(_OPERATOR_OWNED, blocking)
