"""Tracked persist registry: every ``persist()`` a query takes goes
through :func:`tracked_persist`, so a long-lived harness (the 392-query
oracle sweep, ``bench.py``, a notebook session) can release ALL cached
blocks between queries with one :func:`release_cached` call instead of
leaning on LRU eviction.

Why not unpersist inside the query functions themselves: queries return
LAZY DataFrames — the caller collects later, and the persisted frames
are usually reachable from the returned plan, so an in-function
unpersist would forfeit the cache before its one consumer runs.
Releasing is therefore the harness's job, after it has consumed the
result. Unpersisting is always CORRECT (Spark recomputes from lineage);
this is purely a memory-accumulation discipline.

Iterative algorithms run their rounds through :func:`iterate`, which
additionally releases superseded per-round states eagerly, inside the
query function: those frames are consumed by the next rounds'
materialization barriers before the function returns.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame

_TRACKED: List[DataFrame] = []


def tracked_persist(df: DataFrame, level=None) -> DataFrame:
    """``df.persist()`` + registration for later :func:`release_cached`."""
    out = df.persist(level) if level is not None else df.persist()
    _TRACKED.append(out)
    return out


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` + registration for later
    :func:`release_cached` — the iterative loops' lineage-truncating
    barrier (see :func:`iterate`). UNLIKE a persisted frame, a released
    checkpoint cannot be recomputed (its lineage is gone); the harness
    contract already guarantees release happens only AFTER the query's
    result has been consumed, which is exactly when the blocks are dead.
    Tracking them keeps the no-block-accumulation discipline exact: a
    bench/sweep run releases every round state instead of leaking one
    |V|-sized frame per iterative query."""
    out = df.localCheckpoint(eager=True)
    _TRACKED.append(out)
    return out


def release_frame(df: DataFrame, blocking: bool = False) -> None:
    """Unpersist ``df`` whether it was ``persist()``-ed or
    ``localCheckpoint()``-ed. ``DataFrame.unpersist`` is a CacheManager
    call, and a checkpointed frame's blocks live on its UNDERLYING RDD,
    which the CacheManager never registered — so plain unpersist was a
    silent no-op for checkpointed round states (found in optimization
    round 9: every iterative query leaked one RDD per round into
    getPersistentRDDs). Reach through the LogicalRDD to drop the blocks.
    Only call after the frame's consumers are done: a released
    checkpoint cannot be recomputed (its lineage is truncated)."""
    try:
        df.unpersist(blocking)
    except Exception:  # a stopped session's frames are already gone
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)
    except Exception:
        pass


def release_cached(blocking: bool = False) -> int:
    """Unpersist every tracked frame (newest first); returns the count.
    The harness calls this AFTER consuming a query's result: persisted
    frames could recompute from lineage at any time, checkpointed round
    states (tracked_checkpoint) cannot — released blocks are dead by the
    harness contract."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        release_frame(df, blocking)
        n += 1
    return n


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    rounds: int,
    converged: Optional[Callable[[DataFrame, DataFrame], bool]] = None,
) -> Tuple[DataFrame, DataFrame, int]:
    """The iterative graph loops' driver: ``state = step(state, r)`` for
    r = 1..``rounds``, stopping early after the first round for which
    ``converged(prev, cur)`` is true. Returns ``(prev, cur, rounds_run)``.

    Each round's state is an eager :func:`tracked_checkpoint`, not a
    persist: the loops reference their state twice per round (a union or
    fold plus a relay join), so persist-with-lineage doubles the logical
    plan every round and each barrier re-pays its Catalyst analysis
    (graph_kcore_full measured 1.5 s -> 28.9 s per round by round 6;
    the BFS and CC loops carried 2 MB final plans). The checkpoint
    truncates lineage to the materialized partitions and, being eager,
    is also the round's materialization barrier.

    A state is released (blocks dropped, registry entry removed) once the
    state after it has landed too, i.e. two rounds after it was made: the
    previous state stays cached, so lazy frames over it stay valid (the
    PageRank loop's final min over its last two states), and two states
    stay cached between rounds however many rounds run. The seed
    ``state`` is the caller's to checkpoint; it is released like any
    other state (a no-op if it was never persisted). ``converged`` is
    the loop's convergence probe and may run Spark jobs; the driver's
    own jobs are the checkpoints, one per round."""
    prev = cur = state
    ran = 0
    for r in range(1, rounds + 1):
        nxt = tracked_checkpoint(step(cur, r))
        if prev is not cur:
            release_frame(prev)
            _TRACKED[:] = [d for d in _TRACKED if d is not prev]
        prev, cur, ran = cur, nxt, r
        if converged is not None and converged(prev, cur):
            break
    return prev, cur, ran
