"""Same-session interleaved A/B of two DataFrame builders.

    from ab import ab   # with tools/ on sys.path
    report = ab(spark, lambda: old_plan(spark, sf), lambda: new_plan(spark, sf))

Each side is a zero-argument callable that builds a DataFrame. One run of
a side builds its frame and collects it, so eager work done while the
plan is built (checkpoints) is timed and counted too. Reps alternate which
side runs first, so drift within the session falls on both sides alike.
A run's job count is the range of Spark job ids submitted while it ran,
so jobs from pool threads (``validate()`` runs its check families in
threads) count too; a job group would miss them. After the timed runs,
the rows of the last frame of each side are compared in both directions
with ``exceptAll`` (a multiset compare).
"""

from __future__ import annotations

import statistics
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _run(spark: SparkSession, build: Callable[[], DataFrame]):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = dag.nextJobId()
    t0 = time.perf_counter()
    df = build()
    df.collect()
    seconds = time.perf_counter() - t0
    return df, seconds, dag.nextJobId() - first_job


def ab(
    spark: SparkSession,
    a: Callable[[], DataFrame],
    b: Callable[[], DataFrame],
    reps: int = 5,
) -> dict:
    """Time ``a`` and ``b`` ``reps`` times each and compare their rows.

    Returns ``{"a": side, "b": side, "only_in_a": n, "only_in_b": n,
    "identical": bool}`` where each side is ``{"median_s", "jobs",
    "runs_s"}``; ``jobs`` is the median job count of a run and
    ``only_in_a`` counts rows of ``a`` that ``b`` lacks (with multiplicity).
    """
    builders = {"a": a, "b": b}
    runs: dict[str, list[tuple[float, int]]] = {"a": [], "b": []}
    last: dict[str, DataFrame] = {}
    for rep in range(reps):
        for side in ("a", "b") if rep % 2 == 0 else ("b", "a"):
            df, seconds, jobs = _run(spark, builders[side])
            runs[side].append((seconds, jobs))
            last[side] = df
    only_in_a = last["a"].exceptAll(last["b"]).count()
    only_in_b = last["b"].exceptAll(last["a"]).count()
    report = {
        side: {
            "median_s": statistics.median(s for s, _ in runs[side]),
            "jobs": statistics.median(j for _, j in runs[side]),
            "runs_s": [s for s, _ in runs[side]],
        }
        for side in ("a", "b")
    }
    report.update(
        only_in_a=only_in_a,
        only_in_b=only_in_b,
        identical=only_in_a == only_in_b == 0,
    )
    return report
