"""Spark-vs-DuckDB oracle gate at sf0.01.

Runs each registered query's Spark plan and, where it has one, its DuckDB
oracle SQL over the same parquet tables, and compares the two as typed
multisets: column names sorted, rows sorted, values compared as Python
values with floats equal or both NaN. Queries without an oracle only
execute.

Usage: python tools/verify_gate.py [NAME ...]   (no names: the whole registry)

Prints one line per query (OK / EMPTY / MISMATCH / ROWS_ONLY / ERROR),
then ``EMPTY <k>`` and a last line ``TOTAL_BAD <n> of <m>``; exits
non-zero when n > 0. EMPTY means both sides returned no rows: the query
passes, but its compare proves nothing about the plan.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from neo4j_enterprise_spark.catalog import DEFAULT_SF_DIR, TABLES  # noqa: E402
from neo4j_enterprise_spark.plans import Query, all_queries  # noqa: E402

# the read-only sf0.01 tables beside the package's default scale factor
SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")


def _norm(rows, cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(row[i] for i in order) for row in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _same(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return x == y or (math.isnan(x) and math.isnan(y))
    return x == y


def compare(spark: SparkSession, con, q: Query) -> str:
    """One query's verdict line: OK / EMPTY / MISMATCH / ROWS_ONLY, with
    detail."""
    sdf = q.spark(spark, SF_DIR)
    if q.oracle is None:
        return f"ROWS_ONLY {sdf.count()} rows"
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = sdf.collect()
    res = con.execute(q.oracle)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()
    if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
        return (
            f"MISMATCH columns {sorted(s_cols)} vs {sorted(d_cols)}, "
            f"rows {len(s_rows)} vs {len(d_rows)}"
        )
    for a, b in zip(_norm(s_rows, s_cols), _norm(d_rows, d_cols)):
        if not all(map(_same, a, b)):
            return f"MISMATCH first row diff {a} vs {b}"
    return f"OK {len(s_rows)} rows" if s_rows else "EMPTY"


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
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    bad = empty = 0
    for name in names:
        try:
            verdict = compare(spark, con, queries[name])
        except Exception as ex:  # noqa: BLE001
            verdict = f"ERROR {type(ex).__name__}: {str(ex)[:150]}"
        bad += verdict.startswith(("MISMATCH", "ERROR"))
        empty += verdict == "EMPTY"
        print(name, verdict, flush=True)
    print("EMPTY", empty)
    print("TOTAL_BAD", bad, "of", len(names))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
