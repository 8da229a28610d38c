"""Spark-vs-DuckDB oracle gate at sf0.01.

Runs each registered query's Spark plan and, where it has one, its DuckDB
oracle SQL over the same parquet tables, and compares the two with
``plans/oracle.check``: column names, row count, exact values and output
dtype categories. Queries without an oracle only execute.

Usage: python tools/verify_gate.py [NAME ...]   (no names: the whole registry)

Prints one line per query (OK / EMPTY / MISMATCH / ROWS_ONLY / ERROR),
then ``EMPTY <k>`` and a last line ``TOTAL_BAD <n> of <m>``; exits
non-zero when n > 0. EMPTY means both sides returned no rows: the query
passes, but its compare proves nothing about the plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from neo4j_enterprise_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from neo4j_enterprise_spark.plans import all_queries, oracle  # noqa: E402

# the read-only sf0.01 tables beside the package's default scale factor
SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")


def main(names: list[str]) -> int:
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print("UNKNOWN", *unknown)
        return 2
    names = names or list(queries)
    cpus = os.cpu_count() or 1
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    con = oracle.connect(SF_DIR)
    bad = empty = 0
    for name in names:
        try:
            status, detail, _ = oracle.check(spark, con, queries[name], SF_DIR)
        except Exception as ex:  # noqa: BLE001
            status, detail = "ERROR", f"{type(ex).__name__}: {str(ex)[:150]}"
        bad += status in (oracle.MISMATCH, "ERROR")
        empty += status == oracle.EMPTY
        print(name, f"{status} {detail}".rstrip(), flush=True)
    print("EMPTY", empty)
    print("TOTAL_BAD", bad, "of", len(names))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
