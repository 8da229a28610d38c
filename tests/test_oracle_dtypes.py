"""Every oracle's output columns land in the same serialization category
as the Spark plan's (``oracle._category``: the decimal scale counts, and
HUGEINT and list outputs never pass). A hash of the serialized
collected values tells apart a column whose Python values differ in
type for equal values, even where the rows match.

This asserts the dtype stage of the ``oracle.check`` run whose column,
row and value stages ``tests/test_oracle_parity.py`` asserts: each query
runs once for both, and each fault fails exactly one of the two."""

from __future__ import annotations

import pytest

from neo4j_enterprise_spark.plans import all_queries, oracle

WITH_ORACLE = sorted(n for n, q in all_queries().items() if q.oracle is not None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_output_dtypes_match(oracle_verdict, name):
    status, detail = oracle_verdict(name)
    assert status != oracle.MISMATCH or not detail.startswith(oracle.DTYPES), f"{name}: {detail}"
