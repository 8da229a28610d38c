#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json``, the results every timed call is
checked against.

    env SPARK_GRAFT_DRIVER_MEM=4g SPARK_GRAFT_CPUS=4 python3 perfbench/make_expected.py

Queries with a DuckDB oracle take their expected rows from the oracle, and
the Spark result is compared with them here first (the typed compare of
``tools/verify_gate.py``); a mismatch stops the script. ``ann_lsh_top5``
has no oracle, and connected components and PageRank are not queries, so
their expected rows are the engine's own output at the commit that ran
this script. The corrupted checker fixture's expected violations are the
union of the seven ``check_fixture_<family>`` oracles. The restore check's
expected store is one replay of the whole sf0.01 tx log from its base.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

KEEP_ROWS = 200  # result sets up to this size are committed row by row


def main() -> int:
    work_dir = os.path.join(run.OUT_DIR, "make-expected")
    spark = run.start_session(work_dir)
    try:
        from neo4j_enterprise_spark.catalog import TABLES
        from neo4j_enterprise_spark.graph.derive import derived_rels
        from neo4j_enterprise_spark.operators import record_checks, traversal
        from neo4j_enterprise_spark.plans import all_queries
        from neo4j_enterprise_spark.plans import checker as checker_plans
        from neo4j_enterprise_spark.sources import txlog
        from perfbench.verify import canon_rows, expected_entry
        from perfbench.workloads import (
            PAGERANK_ITERATIONS, QUERY_MIX, SF_DIR, rank_rows, without_record_ids,
        )

        queries = all_queries()
        bad: list[str] = []

        def duck(sf_dir):
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            return con

        def from_oracle(con, name, sql, sdf):
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            if canon_rows(cols, rows) != canon_rows(sdf.columns, sdf.collect()):
                bad.append(name)
            return expected_entry(cols, rows, KEEP_ROWS)

        def from_spark(cols, rows):
            return expected_entry(cols, rows, KEEP_ROWS)

        out: dict[str, dict] = {"query_mix": {}, "graph_iterative": {}, "store_ops": {}}
        con = duck(SF_DIR)
        for q in QUERY_MIX:
            sdf = queries[q].spark(spark, SF_DIR)
            out["query_mix"][q] = (
                from_oracle(con, q, queries[q].oracle, sdf) if queries[q].oracle
                else from_spark(sdf.columns, sdf.collect())
            )

        gi = out["graph_iterative"]
        for q in ("bfs_2hop_reach", "parts_ktruss_bounded"):
            gi[q] = from_oracle(con, q, queries[q].oracle, queries[q].spark(spark, SF_DIR))
        rels = derived_rels(spark, SF_DIR)
        cc = traversal.connected_components(rels)
        cc_rows = cc.collect()
        gi["cc"] = from_spark(cc.columns, cc_rows)
        gi["cc"]["components"] = len({r["component"] for r in cc_rows})
        pr = traversal.pagerank(rels, iterations=PAGERANK_ITERATIONS)
        gi["pagerank"] = from_spark(pr.columns, rank_rows(pr.collect()))

        fam_sql = " UNION ALL ".join(
            f"SELECT * FROM ({queries[n].oracle})"
            for n in queries if n.startswith("check_fixture_") and n != "check_fixture_summary"
        )
        violations = record_checks.validate(checker_plans.fixture_graph(spark))
        out["store_ops"]["fixture_violations"] = from_oracle(
            duckdb.connect(), "fixture_violations", fam_sql, violations
        )
        full = txlog.replay(
            txlog.base_graph_from_customers(spark, SF_DIR), txlog.txlog_from_orders(spark, SF_DIR)
        )
        out["store_ops"]["full_replay"] = {
            name: from_spark(*without_record_ids(name, df.columns, df.collect()))
            for name, df in full.tables().items()
        }
    finally:
        run.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    if bad:
        print("Spark differs from the oracle on: " + ", ".join(bad), file=sys.stderr)
        return 1
    with open(run.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
