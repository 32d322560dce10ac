"""Bounded-round fixpoint iteration over DataFrames.

Left lazy, an iterative operator's plan doubles per round and every
round re-runs all earlier ones.  Here each state is materialized by an
eager ``localCheckpoint`` and the previous state is dropped once the
next exists.  ``DataFrame.unpersist()`` does nothing for checkpoint
blocks (they live outside the CacheManager), so :func:`release` drops
the RDD behind the frame's own ``LogicalRDD`` — that frame's blocks and
no one else's.  Executor loss drops local checkpoint blocks; on a real
cluster swap in a reliable ``checkpoint`` directory.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame) -> DataFrame:
    """``df`` materialized now, with its lineage cut."""
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Drop the blocks of a frame returned by :func:`checkpoint`; the
    frame and everything derived from it become unreadable."""
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, True)


def fixpoint(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    max_iter: int,
    done: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """Checkpoint ``state``, then apply ``step`` up to ``max_iter`` times,
    checkpointing each new state and releasing the one it replaced.

    Without ``done`` exactly ``max_iter`` steps run.  With ``done`` the
    loop stops at the first new state where ``done(state)`` holds, and
    raises ``RuntimeError`` if none does within ``max_iter`` steps.
    Returns the last state, checkpointed and owned by the caller.
    """
    state = checkpoint(state)
    try:
        for _ in range(max_iter):
            nxt = checkpoint(step(state))
            release(state)
            state = nxt
            if done is not None and done(state):
                return state
        if done is not None:
            raise RuntimeError(f"no fixpoint within {max_iter} iterations")
        return state
    except BaseException:
        release(state)
        raise
