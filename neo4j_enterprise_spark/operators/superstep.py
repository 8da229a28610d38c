"""The superstep primitive the iterative graph operators are written in,
and the one place a local checkpoint is made or freed.

A round builds its new state lazily; ``cut`` materialises it with an
eager local checkpoint, so plans do not grow with the round count, and
reads any aggregates the loop needs (how many vertices are still
active, the deepest level, the largest path count) off that same
checkpoint through ``DataFrame.observe``. Observed values arrive with the
checkpoint's own jobs: a halt test or a scalar read costs no Spark job,
where a ``limit(1).count()`` probe or a ``collect()`` costs one or two.

``supersteps`` owns the round bound, the checkpoint cadence and the
halt, so the checkpoint decision lives here and nowhere else.

Lifetime rule: ``supersteps`` frees each cut it made once the next one
has landed, so a loop holds at most two rounds' blocks whatever its
round count. It never frees the state it was handed or the state it
returns. A ``step`` may therefore read only its argument and frames cut
before the loop: a frame kept from an earlier round would read freed
blocks. Code that cuts outside ``supersteps`` frees with ``release``.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation


def cut(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Checkpoint ``df`` eagerly; return it with the aggregates ``aggs``
    observed on it, by name. An aggregate over no rows reads 0, not NULL."""
    if not aggs:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    df = df.observe(obs, *(c.alias(name) for name, c in aggs.items()))
    df = df.localCheckpoint(eager=True)
    return df, {name: 0 if v is None else v for name, v in obs.get.items()}


def release(df: DataFrame) -> None:
    """Free the blocks of ``df``, a frame returned by ``cut``, now rather
    than when JVM GC lets the ContextCleaner reap them.

    Spark has no public call for this: ``DataFrame.unpersist`` clears
    only CacheManager entries, and a local checkpoint's blocks belong to
    the RDD under the frame's ``LogicalRDD`` plan node.
    """
    node = df._jdf.queryExecution().logical()
    kind = node.getClass().getSimpleName()
    if kind != "LogicalRDD":
        raise ValueError(f"release() takes a frame returned by cut(), not a {kind} plan")
    node.rdd().unpersist(False)


def supersteps(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int | None = None,
    *,
    every: int = 1,
    halt: Column | None = None,
) -> DataFrame:
    """Run ``state = step(state, i)`` for rounds i = 1, 2, ... and return
    the last state; ``rounds=None`` runs until ``halt`` stops the loop.

    Every ``every``-th round's state is cut, and the previous cut made
    here is released. ``halt`` is an aggregate observed on each cut,
    counting the state's active rows: when it reads 0 the state is a
    fixpoint and is returned at once, so after round 1 ``step`` only
    ever sees a state with active rows.
    """
    retired = None
    for i in itertools.count(1) if rounds is None else range(1, rounds + 1):
        state = step(state, i)
        if i % every == 0:
            state, seen = cut(state, **({} if halt is None else {"active": halt}))
            if retired is not None:
                release(retired)
            retired = state
            if seen.get("active") == 0:
                break
    return state
