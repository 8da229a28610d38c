"""The shared graph vocabulary of ``plans/graph_queries.py``.

Each Spark builder and the SQL twin the oracles embed return the same
rows on an edge-case frame, and each fragment is written once.
"""

from __future__ import annotations

import pathlib

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from neo4j_enterprise_spark.graph.derive import basket, copurchase, copurchase_cte
from neo4j_enterprise_spark.operators.traversal import bfs_reachable
from neo4j_enterprise_spark.plans import graph_queries
from neo4j_enterprise_spark.plans.graph_queries import _frontier_cte

# (l_orderkey, l_partkey): order 1 lists part 499 twice and a NULL part,
# order 2 is a single line, parts 499 / 500 / 501 straddle the bound
_LINES = [
    (1, 499), (1, 499), (1, 500), (1, 501), (1, None),
    (2, 7),
    (3, 7), (3, 499), (3, 501),
    (4, 7), (4, 499), (4, 1), (4, None),
    (5, 1), (5, 2), (5, 3),
]


@pytest.mark.parametrize("max_part", [500, None], ids=["slice", "full"])
def test_copurchase_builder_matches_sql_twin(spark, sql_twin, tmp_path, max_part):
    table = pa.table(
        {
            "l_orderkey": pa.array([o for o, _ in _LINES], pa.int64()),
            "l_partkey": pa.array([p for _, p in _LINES], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "lineitem.parquet"))
    con = duckdb.connect()
    con.register("lineitem", table)
    for name, frame in (
        ("li", basket(spark, str(tmp_path), max_part)),
        ("e", copurchase(spark, str(tmp_path), max_part)),
    ):
        sql = f"WITH {copurchase_cte(max_part)} SELECT * FROM {name}"
        assert sql_twin(con, sql, frame), name


def test_frontier_builder_matches_bfs_reachable(spark, sql_twin):
    # a 1 -> 2 -> 3 -> 1 cycle, a self-loop on 4, seeds 1 and 5
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 4), (4, 6), (5, 1), (2, 7)]
    con = duckdb.connect()
    con.register("rels", pd.DataFrame(edges, columns=["src", "dst"]))
    sql = f"""
    WITH {_frontier_cte("SELECT DISTINCT src AS seed FROM rels WHERE src IN (1, 5)", 3)}
    SELECT seed, node_id, hops FROM reach
    """
    rels = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (5,)], "seed long")
    want = sql_twin(con, sql, bfs_reachable(rels, seeds, k=3, cache_edges=False))
    assert (1, 1, 0) in want and (5, 7, 3) in want


def test_graph_queries_write_each_fragment_once():
    source = pathlib.Path(graph_queries.__file__).read_text()
    for fragment in ('l_partkey < 500', 'F.col("l_partkey") < 500', "hop1 AS", "cypher_query("):
        assert source.count(fragment) <= 1, fragment
