"""Declared-query registry.

Every implemented operator from SURVEY.md §2 is exposed here as a named
pair: a PySpark plan ``(spark, sf_dir) -> DataFrame`` and (where SQL can
express it) the equivalent DuckDB oracle SQL over the driver's
pre-registered views. ``tools/verify_gate.py`` compares the two at
sf0.01; ``tests/test_oracle_parity.py`` runs the same comparison at
sf0.001. ``all_queries()`` returns the registry in registration order.

Determinism rules every query follows:
- money/ratio aggregates are computed on exact DECIMAL casts, and only the
  *final* value is cast to DOUBLE (identical nearest-double on both
  engines) — never sum raw doubles (order-dependent);
- every computed column is aliased identically in both plans;
- timestamps are reduced to DATE or epoch BIGINT at the output boundary.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    bench: bool = False,
) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # A duplicate name would silently shadow the earlier registration
        # (the r10 verdict found two such accidents); fail loudly instead.
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered ({REGISTRY[name].spark.__module__})"
            )
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc, bench=bench)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    # import side-effect populates REGISTRY
    from . import checker  # noqa: F401
    from . import graph_queries  # noqa: F401
    from . import pipeline  # noqa: F401
    from . import relational  # noqa: F401

    return dict(REGISTRY)
