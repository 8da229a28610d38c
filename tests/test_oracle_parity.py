"""Local twin of the sf0.01 correctness gate: every declared query with
an oracle runs on Spark and on DuckDB at sf0.001, and ``oracle.check``
compares the two. This asserts its column names, row count and exact
values; ``tests/test_oracle_dtypes.py`` asserts the dtype stage of the
same run, so a fault fails exactly one of the two."""

from __future__ import annotations

import pytest

from neo4j_enterprise_spark.plans import all_queries, oracle

WITH_ORACLE = sorted(n for n, q in all_queries().items() if q.oracle is not None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(oracle_verdict, name):
    status, detail = oracle_verdict(name)
    assert status in (oracle.OK, oracle.EMPTY) or detail.startswith(oracle.DTYPES), (
        f"{name}: {status} {detail}"
    )
