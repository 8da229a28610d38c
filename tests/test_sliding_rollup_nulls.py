"""Pin the events_sliding_rollup NULL-timestamp contract on data that
actually CONTAINS NULL ts rows (the shipped testdata has none). The old
parity was accidental: Spark's window() silently drops NULL ts while the
oracle's arithmetic derivation kept them as a NULL group. Both sides now
state the filter explicitly; this test feeds a NULL-bearing events table
to the registered plan AND its registered oracle and requires exact
agreement."""

from __future__ import annotations

from neo4j_enterprise_spark.plans import all_queries


def test_sliding_rollup_null_ts_parity(oracle_parity, null_events):
    q = all_queries()["events_sliding_rollup"]
    rows = oracle_parity(q, null_events("ts"), ("events",))
    # the contract: NULL-ts rows contribute to NO window on either side
    n_events_total = sum(r[3] for r in rows)
    # 180 non-null rows x 4 sliding windows each
    assert n_events_total == 180 * 4
