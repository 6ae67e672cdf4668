"""Driver-side fixpoint iteration over checkpointed relations.

The reference gets its closure from oaklib's per-entity recursive
traversal (``ontology_processor.py:189-199``); this engine evaluates
recursion as driver loops over Spark built-ins instead. Every such loop
is one of two shapes, and this module owns their checkpointing,
convergence test and non-convergence error:

- :func:`semi_naive` — accumulate the rows a step derives from the
  previous round's delta that are new on the key columns; stop when a
  round adds none (frontier BFS, semi-naive Datalog evaluation).
- :func:`until_stable` — replace the state each round; stop when its
  row count stops changing (path doubling, monotone peeling).

Each round checkpoints eagerly (``localCheckpoint`` keeps the plan O(1)
deep instead of O(rounds)) and takes convergence from the row count of
that checkpoint. In :func:`semi_naive` the count is an
:class:`~pyspark.sql.Observation` on the checkpoint job itself, so no
round pays a separate ``isEmpty()`` job. :func:`until_stable` counts
its checkpoint with ``count()``, a job over the cached blocks: it runs
on every load (the doubling closure), and the first Observation of a
session registers a query listener that then inspects every later
query of that session. A loop still running after its bound raises
instead of returning a partial result.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Eager local checkpoint of ``df`` and its row count, observed
    during the checkpoint job (no extra job)."""
    obs = Observation()
    ckpt = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(
        eager=True
    )
    return ckpt, obs.get["rows"]


def _not_converged(op: str, bound: str, max_iter: int) -> RuntimeError:
    return RuntimeError(
        f"{op} did not converge within {bound}={max_iter} rounds; "
        f"raise {bound}"
    )


def semi_naive(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    keys: list[str],
    op: str,
    max_iter: int,
    bound: str = "max_iter",
) -> DataFrame:
    """Accumulate ``seed`` plus every row ``step(delta)`` derives that is
    new on ``keys``; ``delta`` is the previous round's new rows (the
    seed in round one, which the caller checkpoints). Per round: the new
    rows and the accumulator are each checkpointed once, and the new
    rows' count is the convergence test. ``bound`` names the caller's
    round-limit parameter in the error."""
    acc = delta = seed
    for _ in range(max_iter):
        delta, n_new = _checkpoint_counted(
            step(delta).join(acc.select(*keys), keys, "left_anti")
        )
        if n_new == 0:
            return acc
        acc = acc.unionByName(delta).localCheckpoint(eager=True)
    raise _not_converged(op, bound, max_iter)


def until_stable(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    op: str,
    max_iter: int,
    bound: str = "max_iter",
) -> DataFrame:
    """Replace ``state`` by ``step(state, rows)`` until its row count
    stops changing; ``rows`` is the state's current count, for steps
    that size their partitions by it. The seed ``state`` is checkpointed
    and counted here; then each round is one checkpoint and one count
    of it. Only meaningful for monotone steps (the state only grows or
    only shrinks), where an unchanged count means an unchanged set."""
    state = state.localCheckpoint(eager=True)
    n = state.count()
    for _ in range(max_iter):
        nxt = step(state, n).localCheckpoint(eager=True)
        n_next = nxt.count()
        if n_next == n:
            return nxt
        state, n = nxt, n_next
    raise _not_converged(op, bound, max_iter)
