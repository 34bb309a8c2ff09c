"""Bounded recursion / iteration as a driver-side loop over DataFrames.

Reference parity: ``Iterative(child, returnTable, numRun)`` / ``Recursion
(child, round)`` (``plan/unaryOperators.scala:298-324``,
``graphOperators.scala:189-195``) and the ``WITH RECURSIVE(n)`` SQL form
(``parsing/SQLParser.scala:360-374``); default round budget 20
(``reference.conf:37``). The reference never planned these physically
(``SeccoStrategies.scala:471-488`` commented out); here they run.

Spark has no recursive-CTE primitive (<4.0), so the loop lives on the driver,
but every *round* is a distributed DataFrame plan. Two primitives carry
every iterative kernel in the package:

- ``checkpoint`` — one eager ``localCheckpoint`` that truncates lineage
  (otherwise the plan tree and task-serialization cost grow linearly with
  rounds) and observes the row count plus any caller metrics on the SAME
  action, so convergence and size probes cost no extra job;
- ``semi_naive`` — the frontier loop: each round expands only the last
  level (per-round work is proportional to new rows), the accumulated set
  is a lazy union of the checkpointed levels (never re-copied), and
  convergence is the observed empty level.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

DEFAULT_MAX_ROUNDS = 20  # reference.conf:37 secco.recursion.numRun


def checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with one eager ``localCheckpoint`` and return
    ``(checkpointed_df, values)``: ``values["__n"]`` is its row count, and
    every named aggregate in ``metrics`` rides the same action as an
    ``Observation``. Never ``count()``/``isEmpty()`` the result — read
    ``values`` instead.

    Some plan shapes (temp view + subquery) hit a Spark AttributeMap bug
    inside checkpointing, a ``java.util.NoSuchElementException`` on an
    attribute id; only that case falls back to ``persist()`` + ``count()``,
    which materializes without rewriting the plan. Any other failure is a
    real job failure and raises as is."""
    obs = Observation()
    try:
        out = df.observe(obs, F.expr("count(1) AS __n"), *metrics).localCheckpoint(eager=True)
    except PySparkException as exc:
        if "NoSuchElementException" not in str(exc).partition("\n")[0]:
            raise
        obs = Observation()
        out = df.observe(obs, F.expr("count(1) AS __n"), *metrics).persist()
        out.count()
    return out, obs.get


def semi_naive(
    seed: DataFrame,
    expand: Callable[[DataFrame, DataFrame, int], DataFrame],
    max_rounds: int,
    exhausted: str | None = None,
) -> tuple[DataFrame, int]:
    """Semi-naive frontier loop. The seed is level 0; round ``r`` (1-based)
    checkpoints ``expand(frontier, seen, r)`` as level ``r`` and the loop
    stops on the first empty level. Returns ``(seen, rounds)``: ``seen`` is
    the lazy union of the checkpointed non-empty levels, ``rounds`` the
    number of levels after the seed. One job per round.

    ``expand`` must return only rows not already in ``seen`` (an anti-join
    or ``exceptAll`` against it), or the loop runs to its budget. If
    ``exhausted`` is given and level ``max_rounds`` is non-empty, one probe
    job evaluates the next level and, if it is non-empty, raises
    ``RuntimeError(exhausted)`` instead of returning a truncated result (a
    frontier that dies on exactly the last round does not raise)."""
    frontier, _ = checkpoint(seed)
    seen = frontier
    for rnd in range(1, max_rounds + 1):
        nxt, got = checkpoint(expand(frontier, seen, rnd))
        if got["__n"] == 0:
            return seen, rnd - 1
        seen = seen.unionByName(nxt)
        frontier = nxt
    if exhausted is not None and not expand(frontier, seen, max_rounds + 1).isEmpty():
        raise RuntimeError(exhausted)
    return seen, max_rounds


def bounded_fixpoint(
    base: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int = DEFAULT_MAX_ROUNDS,
    distinct: bool = True,
    strict: bool = False,
) -> DataFrame:
    """Semi-naive bounded fixpoint: result := base; repeat up to `max_rounds`:
    delta := step(delta) minus result (when `distinct`); result ∪= delta;
    stop on empty delta, detected by the same action that materializes the
    delta (no extra job). Returns the accumulated result.

    With ``strict=True`` a non-empty delta after `max_rounds` raises instead
    of silently returning the truncated result — callers whose semantics are
    "the exact fixpoint" (transitive closures, exact reachability) should
    pass it; ``WITH RECURSIVE(n)`` keeps the default because a bounded round
    budget IS its semantics (reference.conf:37)."""

    def expand(delta: DataFrame, acc: DataFrame, _round: int) -> DataFrame:
        new = step(delta)
        return new.distinct().exceptAll(acc) if distinct else new

    acc, _ = semi_naive(
        base.distinct() if distinct else base,
        expand,
        max_rounds,
        exhausted=(
            f"bounded_fixpoint did not converge within max_rounds={max_rounds}; "
            "the result would be a truncated fixpoint (raise max_rounds or drop strict)"
        ) if strict else None,
    )
    return acc


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
) -> DataFrame:
    """Fixed-round iteration (``Iterative``): state := step(state), `rounds`
    times — the substrate for message-passing / PageRank-style loops."""
    out, _ = checkpoint(state)
    for _ in range(rounds):
        out, _ = checkpoint(step(out))
    return out
