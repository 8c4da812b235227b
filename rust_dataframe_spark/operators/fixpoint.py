"""One fixed-point driver for every iterative DataFrame operator.

A DataFrame is a lazy plan, so a loop that feeds each round's output into the
next grows its plan every round, and a step that reads its state twice
doubles it; persist() caches data but keeps the plan, so by round ~10
analysis itself can run out of memory.  :func:`fixpoint` is the one place
that decides when that lineage is cut (an eager ``localCheckpoint``) and
when a loop has converged.  Loops whose state lives on the driver (kmeans,
bradley_terry, unigram_em) have no lineage to cut and do not use it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from .observability import with_metrics

__all__ = ["fixpoint", "LINEAR_EVERY"]

# rounds per checkpoint for a step whose plan grows by one round's operators:
# the catalog's few-round loops (pagerank n_iter=2, label_propagation
# rounds=3) never checkpoint, and a long run re-analyzes at most 4 rounds
LINEAR_EVERY = 4


def _row_hash(cols: list[str]) -> Column:
    return F.xxhash64(*cols)


def _signed_checkpoint(df: DataFrame) -> tuple[DataFrame, tuple]:
    # observe() rides the checkpoint job itself: the signature costs no job
    observed, obs = with_metrics(df, n=F.count(F.lit(1)), h=F.sum(_row_hash(df.columns)))
    df = observed.localCheckpoint(eager=True)
    m = obs.get
    return df, (m["n"], m["h"])


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    every: int = 1,
    converge: str | None = None,
    remedy: str = "raise the round cap",
) -> DataFrame:
    """Run ``state = step(state, r)`` for ``r = 1..rounds``.

    ``converge=None`` runs exactly ``rounds`` rounds and checkpoints after
    round ``r`` when ``r % every == 0``: ``every=1`` for a step that reads
    its state twice, :data:`LINEAR_EVERY` otherwise.

    Otherwise the initial state and every round are checkpointed together
    with their order-independent signature (row count, sum of per-row
    ``xxhash64``), and the loop returns the first state whose signature
    repeats and which one exact multiset comparison confirms — a hash
    collision costs one extra job, never a wrong early stop.  At the cap it
    raises ``RuntimeError`` naming the operator ``converge`` and ``remedy``:
    an unconverged state is a silently wrong answer.
    """
    if converge is None:
        for r in range(1, rounds + 1):
            state = step(state, r)
            if r % every == 0:
                state = state.localCheckpoint(eager=True)
        return state
    state, sig = _signed_checkpoint(state)
    for r in range(1, rounds + 1):
        new, new_sig = _signed_checkpoint(step(state, r))
        # equal row counts make the one-sided difference an exact test
        if new_sig == sig and new.exceptAll(state).limit(1).count() == 0:
            return new
        state, sig = new, new_sig
    raise RuntimeError(f"{converge} did not converge in {rounds} rounds — {remedy}")
