"""One loop kernel for the iterative DataFrame operators: LinkRank, min-label
propagation, large/small-star and BPE training.

Every round's state is ``localCheckpoint``ed, which truncates its plan to a
LogicalRDD at once, so each round analyses an O(1) plan. A loop whose stop
reads metrics of the round's output observes them and checkpoints eagerly, so
the metrics arrive with the round's own job; every other loop checkpoints
lazily, and the first action that reads the state materializes it.

Measured on pyspark 4.1.2, local[4], under the session default
``spark.sql.adaptive.enabled=true``: a lazy ``localCheckpoint`` still runs the
shuffle-map stages of its plan when it is called, one AQE query-stage job
each, so building LinkRank over a 120-edge graph ran 52 jobs, against 1 with
AQE off, with the same scores. A round without a shuffle runs no job until
its state is read.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame | None],
    max_iter: int,
    *,
    observe: tuple[Column, ...] = (),
    until: Callable[[dict | None, dict], bool] | None = None,
) -> tuple[DataFrame, bool]:
    """Run up to ``max_iter`` rounds of ``state = step(state)``; return the
    final state and whether the loop stopped before ``max_iter`` rounds.

    The loop stops early when ``step`` returns ``None`` (the state is kept)
    or when ``until(previous_metrics, metrics)`` is true, where the metrics
    are the ``observe`` aggregates over the round's output and
    ``previous_metrics`` is ``None`` in the first round."""
    prev = None
    for _ in range(max_iter):
        nxt = step(state)
        if nxt is None:
            return state, True
        if until is None:
            state = nxt.localCheckpoint(eager=False)
            continue
        obs = Observation()
        state = nxt.observe(obs, *observe).localCheckpoint(eager=True)
        if until(prev, obs.get):
            return state, True
        prev = obs.get
    return state, False
