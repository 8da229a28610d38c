#!/usr/bin/env python
"""One more scale-ladder rung: sf60 for the three volume-decisive
queries (endpoints_not_in_use, docs_span_dedup,
q21_sole_late_supplier).

Generates an sf60 SLICE (only the tables those queries touch —
lineitem, orders, customer, supplier, part, documents, plus the dimension
constants) by tiling localdata/sf30 twice with disjoint key shifts —
the same derivation discipline as tools/gen_scale.py (sf30 itself is
300 shifted tiles of the driver's sf0.1): per-key row counts, join
fan-outs and skew are preserved exactly while volume doubles. Shifts
are decade powers above every sf30 max key. embeddings is
NOT generated (no measured query reads it) — the slice is
~9 GB where a full sf60 would not fit the disk budget alongside the
bucketed warehouses; that slice-vs-full trade is the documented disk
ceiling.

Then times each query (median-of-N, plan rebuilt per sample, gc
between samples) and its DuckDB oracle (subprocess-isolated, 40 GB cap
— span_dedup's oracle already OOMs at sf30; a DNF here is recorded,
not ratioed).

Usage: PYTHONPATH=. SPARK_GRAFT_DRIVER_MEM=64g python tools/scale_rung.py [runs] [queries...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

import duckdb

SRC = "localdata/sf30"
OUT = "localdata/sf60"

# column -> shift for tile 2 (decade power above the sf30 max key)
SHIFTS: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": 100_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "part": {"p_partkey": 100_000_000},  # endpoints' derived graph reads it
    "orders": {"o_orderkey": 1_000_000_000, "o_custkey": 100_000_000},
    "lineitem": {
        "l_orderkey": 1_000_000_000,
        "l_partkey": 100_000_000,
        "l_suppkey": 10_000_000,
    },
    "documents": {"doc_id": 10_000_000},
    # events: for the hourly-rollup volume-amortization question (same
    # time range, 2x density — exactly what "volume amortizes the
    # micro-floor" predicts should drop the ratio)
    "events": {"event_id": 1_000_000_000, "user_id": 10_000_000},
}
COPY_ONCE = ["region", "nation"]
QUERIES = (
    "endpoints_not_in_use",
    "docs_span_dedup",
    "q21_sole_late_supplier",
    "events_hourly_rollup",
)


def generate() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 16")
    con.execute("SET memory_limit='24GB'")
    con.execute("SET preserve_insertion_order=false")
    for t in COPY_ONCE:
        dst = f"{OUT}/{t}.parquet"
        if not os.path.exists(dst):
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
    for t, shifts in SHIFTS.items():
        dst = f"{OUT}/{t}.parquet"
        if os.path.exists(dst):
            continue
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{t}.parquet')"
            ).fetchall()
        ]
        shifted = ", ".join(
            f"{c} + {shifts[c]} AS {c}" if c in shifts else c for c in cols
        )
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet') "
            f"UNION ALL SELECT {shifted} FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        print(f"# wrote {dst}", flush=True)
    con.close()


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    queries = tuple(sys.argv[2:]) or QUERIES
    generate()

    import tools.compare_duckdb as cdb
    from neo4j_enterprise_spark.plans import all_queries
    from neo4j_enterprise_spark.session import get_spark

    cdb.RUNS = runs
    spark = get_spark("scale-rung")
    qs = all_queries()

    def gc_pause():
        spark.sparkContext._jvm.System.gc()

    print(f"# sf60 rung  runs={runs}", flush=True)
    rows = []
    for name in queries:
        q = qs[name]
        q.spark(spark, OUT).count()  # warm: codegen + listing
        # toPandas, matching the sf1/sf10/sf30 rung convention (full
        # materialization both sides) — hence the 64g driver heap
        t = cdb.median5(
            lambda qq=q: qq.spark(spark, OUT).toPandas(), pre=gc_pause
        )
        # print the Spark wall BEFORE attempting the oracle: a 40 GB-cap
        # OOM-retry cycle on the oracle side can outlive the run budget
        print(f"#   {name}: spark {t:.2f}s  (oracle attempt follows)", flush=True)
        status, val = cdb._oracle_median(OUT, q.oracle, runs) if q.oracle else ("err", "no oracle")
        rows.append((name, t, status, val))
        print(f"#   {name}: spark {t:.2f}s  duckdb {status} {val}", flush=True)

    print("\n| query | spark s | duckdb s | ratio |")
    print("|---|---|---|---|")
    for name, t, status, val in rows:
        if status == "ok":
            print(f"| {name} | {t:.2f} | {val:.2f} | {t / val:.2f}x |")
        else:
            print(f"| {name} | {t:.2f} | DNF ({val}) | — |")
    spark.stop()


if __name__ == "__main__":
    main()
