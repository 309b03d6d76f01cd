"""The one driver loop of the iterative graph operators (connected
components, k-core, label propagation, BFS): a checkpoint per round, the
superseded round freed, and a driver-side convergence certificate."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def free_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage of a SUPERSEDED localCheckpoint.

    ``DataFrame.unpersist()`` is a CacheManager call and does not touch
    localCheckpoint blocks (verified: storage info unchanged); the blocks
    live on the checkpointed RDD inside the LogicalRDD plan node, so we
    unpersist that RDD directly. Only safe once nothing will read ``df``
    again — the caller must have materialized its replacement first
    (localCheckpoint is eager, so the next round's checkpoint exists
    before we free the previous one). Best-effort: degrades to a no-op
    if the plan shape ever changes."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    changed: Callable[[DataFrame], int] | None = None,
    stuck: Callable[[int, int | None], Exception] | None = None,
) -> DataFrame:
    """Set ``state = step(state, r).localCheckpoint(eager=True)`` for
    r = 1..``rounds``, freeing each round's checkpoint once the next one
    exists (never the caller's input ``state``), and return the state.

    Without ``changed``: exactly ``rounds`` rounds. With it: return after
    the first round whose new state ``changed`` counts 0, else raise
    ``stuck(rounds, last_changed)`` — a state that has not converged
    would be silent wrong data."""
    n = None
    for r in range(1, rounds + 1):
        nxt = step(state, r).localCheckpoint(eager=True)
        if r > 1:
            free_checkpoint(state)
        state = nxt
        if changed is not None:
            n = changed(state)
            if n == 0:
                return state
    if changed is not None:
        raise stuck(rounds, n)
    return state
