"""Deterministic TPC-H → property-graph derivation.

The driver's DuckDB oracle only knows the TPC-H-ish tables, so every
*graph-model* declared query (SURVEY.md §2: adjacency, degree, endpoint
anti-joins, chain/window checks, traversal) runs over a property graph
derived 1:1 from those tables. The SAME derivation is written twice — once
as a PySpark plan here, once as SQL CTE text the oracles embed — so a
hash-match proves the graph operator, not the derivation.

Node id spaces (disjoint ranges, all BIGINT):

========== ===========================
customer    ``c_custkey``
order       ``1_000_000 + o_orderkey``
part        ``2_000_000 + p_partkey``
supplier    ``3_000_000 + s_suppkey``
nation      ``4_000_000 + n_nationkey``
region      ``5_000_000 + r_regionkey``
========== ===========================

``in_use``: customer nodes with ``c_custkey % 7 == 0`` model deleted record
slots (the reference checker skips ``!record.inUse()`` rows and reports
references *to* them — `NodeRecordCheck.java:55-58`); with clean TPC-H data
this is what makes the dangling-endpoint anti-joins return real violations.

Relationship id spaces / types:

=============== ==== ================================================
PLACED          1    ``o_orderkey``; customer → order
CONTAINS        2    ``1e9 + (l_orderkey*8 + l_linenumber)*16 + dup_seq``;
                     order → part (dup_seq disambiguates duplicate
                     (orderkey, linenumber) pairs in the synthetic data)
IN_NATION       3    ``2.0e9 + c_custkey``; customer → nation
SUPP_NATION     4    ``2.1e9 + s_suppkey``; supplier → nation
IN_REGION       5    ``2.2e9 + n_nationkey``; nation → region
=============== ==== ================================================

Chain order (the reference's per-node relationship linked lists,
`RelationshipRecordCheck.java:35-37`) is declared as *ascending rel id per
src node* — reproduced with a window, exactly as SURVEY §2.5 prescribes.

At 100 TB scale: the derivation is a pure per-row projection (no shuffle);
unions are narrow; every downstream join keys on the derived BIGINT ids, so
partitioning survives and Catalyst pushes projections into the scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

# offsets
ORDER_OFF = 1_000_000
PART_OFF = 2_000_000
SUPP_OFF = 3_000_000
NATION_OFF = 4_000_000
REGION_OFF = 5_000_000
CONTAINS_OFF = 1_000_000_000
IN_NATION_OFF = 2_000_000_000
SUPP_NATION_OFF = 2_100_000_000
IN_REGION_OFF = 2_200_000_000


# Memoized persisted copies, keyed by (session, sf_dir). Many declared
# queries share the derivation; persisting it once turns 5-6 parquet
# unions per query into an in-memory scan (the tables are a few MB even
# at sf0.1 — at real scale you'd materialize them with
# write_graph_tables instead).
#
# Persistence is PER KIND / PER TYPE, with the constant kind/type
# columns stacked as ``F.lit`` ABOVE each cached branch (r8 VERDICT,
# cypher_with_having root cause): a single persisted 5-type union hides
# the type constants inside the cache, so ``type_name = 'PLACED'``
# must scan (and first MATERIALIZE) all five blocks — at sf10 that
# means every graph query paid the 60M-row CONTAINS window. With
# literal tags above per-branch caches, Catalyst constant-folds the
# pushed filter to FALSE on non-matching branches and
# PruneFilters/PropagateEmptyRelation delete them from the plan —
# plan-time partition pruning, so a PLACED/IN_NATION query never
# touches (or builds) the CONTAINS cache at all.
_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _memo(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    key = (id(spark._jsparkSession), sf_dir, kind)
    if key not in _CACHE:
        _CACHE[key] = build().persist()
    return _CACHE[key]


def derived_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nodes(id BIGINT, kind STRING, in_use BOOLEAN, name STRING).

    Union of six per-kind cached branches, each tagged with its kind as
    a PLAN-VISIBLE literal — ``kind = 'customer'`` filters delete the
    other five branches at optimization time (see the _CACHE note).
    """
    branches = [
        _node_branch(spark, sf_dir, kind).select(
            "id", F.lit(kind).alias("kind"), "in_use", "name"
        )
        for kind in _NODE_BUILDERS
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _node_branch(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """(id, in_use, name) for ONE node kind — persisted per kind,
    PRE-PARTITIONED on ``id`` (SCALE §1: nodes are laid out by id), so
    id-keyed semis/attaches against one pruned kind branch meet a
    pre-hashed side and point lookups prune to one partition."""
    return _memo(
        spark, sf_dir, f"nodes:{kind}",
        lambda: _NODE_BUILDERS[kind](spark, sf_dir).repartition(F.col("id")),
    )


def _nodes_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        (F.col("c_custkey") % 7 != 0).alias("in_use"),
        F.col("c_name").alias("name"),
    )


def _nodes_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") + ORDER_OFF).cast("long").alias("id"),
        F.lit(True).alias("in_use"),
        F.col("o_orderkey").cast("string").alias("name"),
    )


def _nodes_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select(
        (F.col("p_partkey") + PART_OFF).cast("long").alias("id"),
        F.lit(True).alias("in_use"),
        F.col("p_name").alias("name"),
    )


def _nodes_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + SUPP_OFF).cast("long").alias("id"),
        F.lit(True).alias("in_use"),
        F.col("s_name").alias("name"),
    )


def _nodes_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + NATION_OFF).cast("long").alias("id"),
        F.lit(True).alias("in_use"),
        F.col("n_name").alias("name"),
    )


def _nodes_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "region").select(
        (F.col("r_regionkey") + REGION_OFF).cast("long").alias("id"),
        F.lit(True).alias("in_use"),
        F.col("r_name").alias("name"),
    )


_NODE_BUILDERS = {
    "customer": _nodes_customer,
    "order": _nodes_order,
    "part": _nodes_part,
    "supplier": _nodes_supplier,
    "nation": _nodes_nation,
    "region": _nodes_region,
}


def derived_rels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relationships(id, src, dst BIGINT, type_id INT, type_name STRING).

    Union of five per-type cached branches tagged with plan-visible
    ``type_id``/``type_name`` literals — a ``type_name = 'PLACED'``
    filter constant-folds the other four branches away BEFORE they are
    scanned or even materialized, so (e.g.) cypher_with_having never
    pays the 60M-row CONTAINS disambiguation window at sf10 (r8 VERDICT
    root cause; the old single persisted union scanned all five blocks
    for every typed filter).
    """
    branches = [
        _rel_branch(spark, sf_dir, tn).select(
            "id", "src", "dst",
            F.lit(tid).alias("type_id"),
            F.lit(tn).alias("type_name"),
        )
        for tn, tid in _REL_TYPE_IDS.items()
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _rel_branch(spark: SparkSession, sf_dir: str, type_name: str) -> DataFrame:
    """(id, src, dst) for ONE relationship type — persisted per type,
    PRE-PARTITIONED on ``src`` (SCALE §1: relationships are laid out by
    src — the in-memory analogue of the bucketed parquet layout
    ``write_graph_tables`` produces). An InMemoryRelation preserves its
    child's outputPartitioning, so every src-keyed aggregate
    (cypher_with_having's per-customer order count) and src-keyed join
    (adjacency expands, chain walks) over ONE pruned branch runs
    exchange-free — measured at sf10: the 15M-row PLACED
    groupBy(src) shuffle disappears from every warm run, paid once at
    cache build. Unions of several branches lose the partitioning (a
    Union's output partitioning is unknown) — multi-type scans shuffle
    as before."""
    return _memo(
        spark, sf_dir, f"rels:{type_name}",
        lambda: _REL_BUILDERS[type_name](spark, sf_dir).repartition(F.col("src")),
    )


def _rels_placed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("id"),
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("o_orderkey") + ORDER_OFF).cast("long").alias("dst"),
    )


def _rels_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data (up
    # to 6 duplicates per pair), so a windowed sequence disambiguates —
    # partitioned by the pair (distributed; no global window), ordered by
    # the remaining columns, which are unique within a pair.
    from pyspark.sql.window import Window

    w_dup = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    return (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("seq", F.row_number().over(w_dup))
        .select(
            (
                (F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 16
                + F.col("seq")
                + CONTAINS_OFF
            )
            .cast("long")
            .alias("id"),
            (F.col("l_orderkey") + ORDER_OFF).cast("long").alias("src"),
            (F.col("l_partkey") + PART_OFF).cast("long").alias("dst"),
        )
    )


def _rels_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + IN_NATION_OFF).cast("long").alias("id"),
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey") + NATION_OFF).cast("long").alias("dst"),
    )


def _rels_supp_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + SUPP_NATION_OFF).cast("long").alias("id"),
        (F.col("s_suppkey") + SUPP_OFF).cast("long").alias("src"),
        (F.col("s_nationkey") + NATION_OFF).cast("long").alias("dst"),
    )


def _rels_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + IN_REGION_OFF).cast("long").alias("id"),
        (F.col("n_nationkey") + NATION_OFF).cast("long").alias("src"),
        (F.col("n_regionkey") + REGION_OFF).cast("long").alias("dst"),
    )


_REL_TYPE_IDS = {
    "PLACED": 1,
    "CONTAINS": 2,
    "IN_NATION": 3,
    "SUPP_NATION": 4,
    "IN_REGION": 5,
}

_REL_BUILDERS = {
    "PLACED": _rels_placed,
    "CONTAINS": _rels_contains,
    "IN_NATION": _rels_in_nation,
    "SUPP_NATION": _rels_supp_nation,
    "IN_REGION": _rels_in_region,
}


# --- SQL twins (DuckDB CTE bodies) -------------------------------------
# Keep these textually in sync with the DataFrame plans above.

NODES_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS id, 'customer' AS kind,
       (c_custkey % 7 <> 0) AS in_use, c_name AS name FROM customer
UNION ALL
SELECT CAST(o_orderkey + 1000000 AS BIGINT), 'order', TRUE,
       CAST(o_orderkey AS VARCHAR) FROM orders
UNION ALL
SELECT CAST(p_partkey + 2000000 AS BIGINT), 'part', TRUE, p_name FROM part
UNION ALL
SELECT CAST(s_suppkey + 3000000 AS BIGINT), 'supplier', TRUE, s_name FROM supplier
UNION ALL
SELECT CAST(n_nationkey + 4000000 AS BIGINT), 'nation', TRUE, n_name FROM nation
UNION ALL
SELECT CAST(r_regionkey + 5000000 AS BIGINT), 'region', TRUE, r_name FROM region
"""

RELS_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS id, CAST(o_custkey AS BIGINT) AS src,
       CAST(o_orderkey + 1000000 AS BIGINT) AS dst,
       1 AS type_id, 'PLACED' AS type_name FROM orders
UNION ALL
SELECT CAST((l_orderkey * 8 + l_linenumber) * 16
            + ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
                                 ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice)
            + 1000000000 AS BIGINT),
       CAST(l_orderkey + 1000000 AS BIGINT),
       CAST(l_partkey + 2000000 AS BIGINT), 2, 'CONTAINS' FROM lineitem
UNION ALL
SELECT CAST(c_custkey + 2000000000 AS BIGINT), CAST(c_custkey AS BIGINT),
       CAST(c_nationkey + 4000000 AS BIGINT), 3, 'IN_NATION' FROM customer
UNION ALL
SELECT CAST(s_suppkey + 2100000000 AS BIGINT), CAST(s_suppkey + 3000000 AS BIGINT),
       CAST(s_nationkey + 4000000 AS BIGINT), 4, 'SUPP_NATION' FROM supplier
UNION ALL
SELECT CAST(n_nationkey + 2200000000 AS BIGINT), CAST(n_nationkey + 4000000 AS BIGINT),
       CAST(n_regionkey + 5000000 AS BIGINT), 5, 'IN_REGION' FROM nation
"""


def graph_cte(*, nodes: bool = True, rels: bool = True) -> str:
    """WITH-clause text for oracle SQL; include only what the query needs."""
    parts = []
    if nodes:
        parts.append(f"nodes AS ({NODES_SQL})")
    if rels:
        parts.append(f"rels AS ({RELS_SQL})")
    return "WITH " + ",\n".join(parts)


# --- The part co-purchase graph -----------------------------------------
# Not memoized: a persisted copy would change the plans of the queries
# that build on it. ``max_part`` keeps parts below it; the graph queries
# use 500, a fixed slice whose density grows with scale, so their
# algorithms have non-trivial work at every sf.


def basket(spark: SparkSession, sf_dir: str, max_part: int | None = None) -> DataFrame:
    """The distinct (l_orderkey, l_partkey) order baskets."""
    li = load_table(spark, sf_dir, "lineitem")
    if max_part is not None:
        li = li.filter(F.col("l_partkey") < max_part)
    return li.select("l_orderkey", "l_partkey").distinct()


def copurchase(spark: SparkSession, sf_dir: str, max_part: int | None = None) -> DataFrame:
    """copurchase(a, b, n): one edge a < b per two parts that share an
    order, ``n`` the number of orders they share."""
    li = basket(spark, sf_dir, max_part)
    return (
        li.select("l_orderkey", F.col("l_partkey").alias("a"))
        .join(li.select("l_orderkey", F.col("l_partkey").alias("b")), "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
    )


def copurchase_cte(max_part: int | None = None) -> str:
    """CTE-list text (no ``WITH``): ``li`` and ``e`` are the SQL twins of
    ``basket`` and ``copurchase``; ``adj(u, v)`` holds each edge both
    ways and ``deg(node_id, deg)`` each part's degree."""
    where = "" if max_part is None else f" WHERE l_partkey < {max_part}"
    return f"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem{where}),
    e AS (SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
    adj AS MATERIALIZED (SELECT a AS u, b AS v FROM e
                         UNION ALL SELECT b, a FROM e),
    deg AS MATERIALIZED (SELECT u AS node_id, COUNT(*) AS deg
                         FROM adj GROUP BY 1)"""


def write_graph_tables(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize the derived graph as parquet (bucketing-ready layout).

    At scale you'd bucket both tables by their join keys
    (``nodes.id`` / ``rels.src``) so adjacency joins are shuffle-free; in
    plain parquet we approximate with ``repartition`` on the key so each
    file covers a key range and AQE can coalesce.
    """
    os.makedirs(out_dir, exist_ok=True)
    derived_nodes(spark, sf_dir).repartition("id").write.mode("overwrite").parquet(
        os.path.join(out_dir, "nodes.parquet")
    )
    derived_rels(spark, sf_dir).repartition("src").write.mode("overwrite").parquet(
        os.path.join(out_dir, "rels.parquet")
    )
