"""Storage discipline for iterative DataFrame algorithms.

Every local checkpoint in the engine is taken by :func:`checkpoint`:
the fixpoint loops (transitive closure, both connected-components
loops, PageRank, WL refinement) and the one-off cuts of operators whose
plans read an input many times.  The loops follow one rule:

- every generation is a checkpoint (PageRank cuts every other round),
  and a convergence signal is observed on that same job, not computed
  by a second action;
- the superseded generation is released (:func:`release`) as soon as
  its successor exists: a local checkpoint cuts lineage but does not
  free storage, so a long-lived session would otherwise grow executor
  storage until LRU eviction thrashes;
- the frame returned to the caller is registered with :func:`track`,
  and the session frees it with :func:`release_tracked` once results
  are materialized.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import Column, DataFrame, Observation

# serializes the session-global constraint-propagation toggle below:
# without it two concurrent checkpointing loops interleave their
# save/restore and can leave the conf permanently flipped
_CONSTRAINT_LOCK = threading.RLock()
_CONSTRAINT_DEPTH = 0
_CONSTRAINT_PREV: str | None = None


@contextlib.contextmanager
def constraints_disabled(spark):
    """Disable ``spark.sql.constraintPropagation.enabled`` for the
    duration of a checkpoint capture (re-entrant, process-wide
    serialized).  Spark's ``Dataset.checkpoint`` otherwise snapshots the
    origin plan's constraints into the LogicalRDD; for plans with
    filters those can reference pre-checkpoint exprIds, and optimizing
    any later union over such frames dies in
    ``UnionBase.rewriteConstraints`` ("key not found: <attr>").  With
    the flag off during capture the LogicalRDD carries no constraints —
    data identical, only the optimizer's inferred-filter pass over
    these internal frames is skipped."""
    global _CONSTRAINT_DEPTH, _CONSTRAINT_PREV
    key = "spark.sql.constraintPropagation.enabled"
    with _CONSTRAINT_LOCK:
        if _CONSTRAINT_DEPTH == 0:
            _CONSTRAINT_PREV = spark.conf.get(key, None)
            spark.conf.set(key, "false")
        _CONSTRAINT_DEPTH += 1
        try:
            yield
        finally:
            _CONSTRAINT_DEPTH -= 1
            if _CONSTRAINT_DEPTH == 0:
                if _CONSTRAINT_PREV is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, _CONSTRAINT_PREV)


def checkpoint(df: DataFrame, *signals: Column):
    """Eager local checkpoint of ``df`` under :func:`constraints_disabled`.

    With ``signals`` (aggregate columns, each aliased) it returns
    ``(checkpoint, values)``: ``values`` maps each alias to its
    aggregate over ``df``, observed on the checkpoint's own job
    (``DataFrame.observe``) rather than computed by a second action."""
    obs = Observation() if signals else None
    if obs is not None:
        df = df.observe(obs, *signals)
    with constraints_disabled(df.sparkSession):
        out = df.localCheckpoint(eager=True)
    return out if obs is None else (out, obs.get)


# Frames an operator must leave pinned for its caller (a returned
# checkpoint, a loop invariant the lazy result still references).  A
# long-lived session (bench loop, notebook) calls release_tracked()
# between queries once results are materialized — the in-function
# release is impossible, the blocks are still needed.
_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a pinned frame for later :func:`release_tracked`."""
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Release every tracked frame (storage-level release, works for
    local checkpoints too); returns how many were released.  Only call
    once prior results are materialized — released checkpoints cannot
    be recomputed."""
    n = len(_TRACKED)
    for df in _TRACKED:
        release(df)
    _TRACKED.clear()
    return n


def release(df: DataFrame) -> None:
    """Free the storage behind a persisted or checkpointed frame, or a
    column projection of a checkpoint; a no-op on any other lazy frame.
    ``Dataset.unpersist`` only clears CacheManager entries, so for
    checkpointed frames (plan = ``LogicalRDD``) the backing RDD is
    unpersisted directly.  Only call on frames whose data is no longer
    referenced: a local checkpoint truncates lineage, so released blocks
    cannot be recomputed."""
    try:
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "Project":
            plan = plan.child()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # pragma: no cover - py4j internals moved
        pass
