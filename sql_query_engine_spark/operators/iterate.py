"""One loop for every iterative builder: fixed rounds or a fixpoint.

Two loop shapes run iterative algorithms on DataFrames, and both go
through :func:`iterate`:

* **Fixed rounds** (PageRank, gradient descent). The rounds unroll into
  one lazy plan: building it runs no job and persists nothing, and
  within one execution AQE's exchange reuse shares the loop-invariant
  inputs (edge tables, feature scans) across rounds. This needs a step
  that reads the previous state once, so the plan grows linearly with
  the round count; a step that read it twice would double the plan
  every round.
* **Fixpoint** (closure, connected components). Whether another round
  is needed is only known from data, so every round is materialized
  with its lineage truncated and probed with one count; the round it
  replaced is released at once, so only the final round's blocks stay.

Lineage truncation is ``localCheckpoint`` by default: blocks live on the
executors, fast, but a lost executor kills a long job because the
truncated lineage cannot recompute. ``checkpoint_dir`` (an HDFS/S3 path
on a real cluster) switches to reliable ``checkpoint()`` files, so
recovery reads the checkpoint store; fixed-round loops then truncate
every round too, so an executor loss replays at most one round.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..functions.partitioning import configure_checkpoint_dir

__all__ = ["iterate", "release", "truncate"]


def truncate(
    df: DataFrame, checkpoint_dir: str | None = None, *, eager: bool = True
) -> DataFrame:
    """Cut ``df``'s lineage: local blocks, or reliable files under
    ``checkpoint_dir``. ``eager`` materializes it now; otherwise the
    first action over the result does."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    configure_checkpoint_dir(df.sparkSession.sparkContext, checkpoint_dir)
    return df.checkpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Drop the blocks of a frame :func:`truncate` returned; a no-op for
    any other frame. Reliable checkpoint files stay in their directory."""
    plan = df._jdf.logicalPlan()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int | None,
    *,
    while_any: str | None = None,
    every: int = 1,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Apply ``step`` to ``state`` up to ``rounds`` times; a fixpoint
    loop may pass ``rounds=None`` for no cap.

    Without ``while_any`` the rounds are fixed: the result is one lazy
    plan (truncated per round only under ``checkpoint_dir``). With
    ``while_any`` naming a boolean column of the state, the loop stops
    after the first probed round in which no row has that column set;
    every ``every``-th round and the last are probed, so ``every=2``
    halves the probe jobs at the cost of at most one extra round past
    the fixpoint. Each round is materialized before the one it replaced
    is released, so the returned state is the only one left.
    """
    if while_any is None:
        for _ in range(rounds):
            state = step(state)
            if checkpoint_dir is not None:
                state = truncate(state, checkpoint_dir)
        return state
    for i in itertools.count(1) if rounds is None else range(1, rounds + 1):
        probe = i % every == 0 or i == rounds
        # a probed round is materialized by its probe count
        nxt = truncate(step(state), checkpoint_dir, eager=not probe)
        done = probe and nxt.filter(while_any).count() == 0
        if i > 1:  # state0 belongs to the caller
            release(state)
        state = nxt
        if done:
            break
    return state
