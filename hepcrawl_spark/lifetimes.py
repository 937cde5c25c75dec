"""One owner for the executor blocks an operator pins.

A persisted frame or a local checkpoint holds executor blocks until
something frees them (left to Spark, ContextCleaner's periodic GC).
The rule: an operator frees what only it reads before it returns and
registers the frames its result reads in a caller-owned ``caches``
list; the caller ``release``s the list once the result is
materialized, as the crawl round does in its ``finally``.  Without a
list those frames stay pinned, registered nowhere.  ``fixpoint`` is
the one iterate-and-checkpoint loop of the iterative graph and dedup
operators.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Tuple, Union

from pyspark.sql import DataFrame

State = Union[DataFrame, Tuple[DataFrame, ...]]


def persist(df: DataFrame, caches: Optional[List[DataFrame]]) -> DataFrame:
    """``df.persist()``, registered in ``caches`` when one is given."""
    df = df.persist()
    if caches is not None:
        caches.append(df)
    return df


def release(caches: List[DataFrame]) -> None:
    """Unpersist every frame in ``caches``.  A local checkpoint's
    blocks belong to its RDD, which ``DataFrame.unpersist`` cannot
    reach, so for a frame whose analyzed plan is a checkpointed
    ``LogicalRDD`` that RDD is unpersisted too; nothing may read a
    released checkpoint again."""
    for df in caches:
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if (plan.getClass().getSimpleName() == "LogicalRDD"
                and plan.rdd().isCheckpointed()):
            plan.rdd().unpersist(False)


def _frames(state: State) -> List[DataFrame]:
    return list(state) if isinstance(state, tuple) else [state]


def _checkpoint(state: State) -> State:
    if isinstance(state, tuple):
        return tuple(df.localCheckpoint(eager=True) for df in state)
    return state.localCheckpoint(eager=True)


def fixpoint(state: State,
             step: Callable[[State, List[DataFrame]], State],
             iterations: int, *,
             caches: Optional[List[DataFrame]] = None,
             changed: Optional[Callable[[State, State], bool]] = None
             ) -> State:
    """Run ``state = step(state, scratch)`` ``iterations`` times, or
    until ``changed(new, old)`` reports no change.

    ``state`` is a frame or a tuple of frames.  Each new state is
    local-checkpointed eagerly (constant lineage depth); once it is
    materialized and probed, the checkpoint it supersedes and what the
    step persisted into ``scratch`` are released.  The initial state is
    the caller's and is never released.  The final checkpoints go into
    ``caches``.  With a ``changed`` probe the loop must converge: if
    every iteration changes the state, the last one is released and
    ``RuntimeError`` is raised.
    """
    owned: List[DataFrame] = []
    for _ in range(iterations):
        scratch: List[DataFrame] = []
        new = _checkpoint(step(state, scratch))
        done = changed is not None and not changed(new, state)
        release(owned + scratch)
        state, owned = new, _frames(new)
        if done:
            break
    else:
        if changed is not None:
            release(owned)
            raise RuntimeError(
                f"no fixed point within {iterations} iterations")
    if caches is not None:
        caches.extend(owned)
    return state
