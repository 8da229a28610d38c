"""NULL-timestamp contract sweep for the whole batch events family.

The shipped testdata has no NULL ts, so engine/oracle agreement on NULL
handling went untested until this sweep came, and four queries (session
windows, as-of attribution, user sessions, path trigrams) diverged:
Spark and DuckDB disagree on NULL sort position and NULL comparisons
inside window/asof logic, so any query whose oracle didn't state a
filter drifted the moment a NULL ts appeared. Every time-ordered query
now filters NULL ts explicitly ON BOTH SIDES; this sweep feeds a
10%-NULL events table (full production schema, props included) to every
oracle-bearing batch events query and requires exact parity
(``oracle.check``)."""

from __future__ import annotations

import pytest

from neo4j_enterprise_spark.plans import all_queries

QUERIES = all_queries()
EVENTS_BATCH = sorted(
    n
    for n, q in QUERIES.items()
    if n.startswith("events_") and q.oracle is not None and "stream" not in n
)


@pytest.mark.parametrize("name", EVENTS_BATCH)
def test_null_ts_parity(oracle_parity, null_events, name):
    oracle_parity(QUERIES[name], null_events("ts"), ("events",))
