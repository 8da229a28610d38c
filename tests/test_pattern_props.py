"""Inline property-map matching in the Cypher-ish DSL."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_enterprise_spark.graph.derive import derived_nodes, derived_rels
from neo4j_enterprise_spark.operators.pattern import _parse_props, cypher_match


def test_parse_props_literals():
    assert _parse_props("name: 'ASIA'") == {"name": "ASIA"}
    assert _parse_props('a: "x", flag: true, n: 3, f: 1.5') == {
        "a": "x", "flag": True, "n": 3, "f": 1.5,
    }
    assert _parse_props(None) == {} and _parse_props("  ") == {}
    with pytest.raises(ValueError):
        _parse_props("not a map")


def test_property_map_filters_match(spark, sf_dir):
    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    got = cypher_match(nodes, rels, "(r:region {name: 'ASIA'})<-[:IN_REGION]-(n)")
    asia_id = nodes.filter(
        (F.col("kind") == "region") & (F.col("name") == "ASIA")
    ).collect()[0]["id"]
    rows = got.collect()
    assert rows and all(r["r"] == asia_id for r in rows)
    expected = rels.filter(
        (F.col("type_name") == "IN_REGION") & (F.col("dst") == asia_id)
    ).count()
    assert len(rows) == expected


def test_property_map_unknown_key_raises(spark, sf_dir):
    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    with pytest.raises(ValueError, match="unknown node property"):
        cypher_match(nodes, rels, "(r:region {nope: 1})<-[:IN_REGION]-(n)")


def test_boolean_property_map(spark, sf_dir):
    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    # in_use=false customers exist by construction (c_custkey % 7 == 0)
    got = cypher_match(nodes, rels, "(c:customer {in_use: false})-[:PLACED]->(o)")
    ids = {r["c"] for r in got.select("c").distinct().collect()}
    assert ids and all(i % 7 == 0 for i in ids)


def test_attach_projects_node_attributes(spark, sf_dir):
    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    got = cypher_match(
        nodes,
        rels,
        "(n:nation)-[:IN_REGION]->(r:region)",
        attach={"n": ["name"], "r": ["name", "kind"]},
    )
    assert {"n", "r", "n_name", "r_name", "r_kind"} <= set(got.columns)
    rows = got.collect()
    assert rows and all(r["r_kind"] == "region" for r in rows)
    names = dict(nodes.filter(F.col("kind") == "region").select("id", "name").collect())
    assert all(r["r_name"] == names[r["r"]] for r in rows)


def test_attach_validates_vars_and_columns(spark, sf_dir):
    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    with pytest.raises(ValueError, match="not bound"):
        cypher_match(nodes, rels, "(n:nation)-[:IN_REGION]->(r)", attach={"z": ["name"]})
    with pytest.raises(ValueError, match="unknown node columns"):
        cypher_match(nodes, rels, "(n:nation)-[:IN_REGION]->(r)", attach={"n": ["zz"]})


def test_cypher_query_where_filters_and_aggregates(spark, sf_dir):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    got = cypher_query(
        nodes,
        rels,
        "MATCH (n:nation)-[:IN_REGION]->(r:region) "
        "WHERE r.name = 'ASIA' "
        "RETURN n.name AS nation_name, count(*) AS n ORDER BY nation_name",
    )
    rows = got.collect()
    assert got.columns == ["nation_name", "n"]
    assert rows and all(r["n"] == 1 for r in rows)
    # cross-check against the raw joins
    asia = {r["id"] for r in nodes.filter("kind = 'region' AND name = 'ASIA'").collect()}
    expect = (
        rels.filter(F.col("type_name") == "IN_REGION")
        .filter(F.col("dst").isin(list(asia)))
        .count()
    )
    assert len(rows) == expect


def test_cypher_query_plain_return_order_limit(spark, sf_dir):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    got = cypher_query(
        nodes,
        rels,
        "MATCH (n:nation)-[:IN_REGION]->(r:region) "
        "RETURN n AS nation_id, r.name AS region_name ORDER BY nation_id DESC LIMIT 3",
    ).collect()
    assert len(got) == 3
    assert got[0]["nation_id"] > got[1]["nation_id"] > got[2]["nation_id"]


def test_cypher_query_rejects_bad_clauses(spark, sf_dir):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    with pytest.raises(ValueError, match="MATCH"):
        cypher_query(nodes, rels, "RETURN x")
    with pytest.raises(ValueError, match="unsupported WHERE"):
        cypher_query(nodes, rels, "MATCH (n:nation)-[:IN_REGION]->(r) WHERE n.name LIKE 'x'")
    with pytest.raises(ValueError, match="WITH"):
        cypher_query(nodes, rels, "MATCH (n)-[:IN_REGION]->(r) MATCH (m)-[:IN_REGION]->(q)")


def test_cypher_optional_match_keeps_unmatched(spark, sf_dir):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    got = cypher_query(
        nodes,
        rels,
        "MATCH (c:customer) OPTIONAL MATCH (c)-[:PLACED]->(o) "
        "RETURN c AS customer_id, count(o) AS n_orders",
    )
    rows = got.collect()
    n_customers = nodes.filter("kind = 'customer'").count()
    assert len(rows) == n_customers  # every customer appears, matched or not
    from collections import Counter

    placed = Counter(
        r["src"] for r in rels.filter("type_name = 'PLACED'").select("src").collect()
    )
    assert all(r["n_orders"] == placed.get(r["customer_id"], 0) for r in rows)


def test_cypher_optional_match_null_bindings(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    # tiny graph where node 2 has no outgoing edge: count(o) must be 0
    nodes = spark.createDataFrame(
        [(1, "thing", True, "a"), (2, "thing", True, "b"), (3, "thing", True, "c")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame([(10, 1, 3, "REL")], "id long, src long, dst long, type_name string")
    rows = {
        r["x"]: r["n"]
        for r in cypher_query(
            nodes, rels, "MATCH (x:thing) OPTIONAL MATCH (x)-[:REL]->(y) RETURN x, count(y) AS n"
        ).collect()
    }
    assert rows == {1: 1, 2: 0, 3: 0}


def test_cypher_optional_match_requires_shared_var(spark, sf_dir):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    with pytest.raises(ValueError, match="share a variable"):
        cypher_query(
            nodes, rels,
            "MATCH (c:customer) OPTIONAL MATCH (x:nation)-[:IN_REGION]->(r) RETURN c",
        )


def test_cypher_query_string_predicates(spark, sf_dir):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    got = cypher_query(
        nodes, rels,
        "MATCH (n:nation)-[:IN_REGION]->(r:region) "
        "WHERE n.name CONTAINS '_1' RETURN n.name AS nm ORDER BY nm",
    ).collect()
    names = [r["nm"] for r in got]
    assert names and all("_1" in n for n in names)
    expect = sorted(
        r["name"] for r in nodes.filter("kind = 'nation' AND name LIKE '%\\_1%'").collect()
    )
    assert names == expect


def test_cypher_with_chaining_three_stages(spark, sf_dir):
    """WITH → MATCH → WITH → RETURN: two barriers, joins on the carried
    variable at each stage."""
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    got = cypher_query(
        nodes,
        rels,
        "MATCH (c:customer)-[:PLACED]->(o) "
        "WITH c, count(*) AS n_orders "
        "MATCH (c)-[:IN_NATION]->(n) "
        "WITH n, sum(n_orders) AS nation_orders "
        "RETURN n.name AS nation_name, nation_orders "
        "ORDER BY nation_name",
    ).collect()
    # hand-built expectation: orders per customer → nation rollup
    placed = rels.filter("type_name = 'PLACED'").groupBy("src").count()
    in_nation = rels.filter("type_name = 'IN_NATION'").select("src", "dst")
    expect = sorted(
        (r["name"], r["total"])
        for r in placed.join(in_nation, "src")
        .groupBy("dst")
        .agg(F.sum("count").alias("total"))
        .join(nodes.select(F.col("id").alias("dst"), "name"), "dst")
        .collect()
    )
    assert [(r["nation_name"], r["nation_orders"]) for r in got] == expect


def test_cypher_collect_distinct(spark, sf_dir):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    got = cypher_query(
        nodes,
        rels,
        "MATCH (n:nation)-[:IN_REGION]->(r:region) "
        "RETURN r AS region_id, collect(DISTINCT n) AS nation_ids "
        "ORDER BY region_id",
    ).collect()
    assert len(got) == nodes.filter("kind = 'region'").count()
    for row in got:
        ids = row["nation_ids"]
        assert ids == sorted(set(ids))  # sorted, deduped


# ---------------------------------------------------- deferral rewrites
# The deferred-attach and deferred-label-semi rewrites
# must be OBSERVATIONALLY INVISIBLE: every query runs once with the
# rewrites active and once with both eligibility gates forced empty,
# and the sorted results must match exactly.

_DEFER_QUERIES = [
    # both rewrites fire (the cypher_with_having shape)
    "MATCH (c:customer)-[:PLACED]->(o) "
    "WITH c, count(*) AS n_orders WHERE n_orders >= 3 "
    "MATCH (c)-[:IN_NATION]->(n) "
    "RETURN n.name AS nation, count(*) AS cnt, sum(n_orders) AS total "
    "ORDER BY nation",
    # min/max merge fns
    "MATCH (c:customer)-[:IN_NATION]->(n) "
    "RETURN n.name AS nation, min(c) AS min_c, max(c) AS max_c "
    "ORDER BY nation",
    # attach deferral blocked by a WHERE on the var's prop
    "MATCH (c)-[:IN_NATION]->(n) WHERE n.name STARTS WITH 'NATION_1' "
    "RETURN n.name AS nation, count(*) AS cnt ORDER BY nation",
    # blocked by a non-mergeable aggregate (collect)
    "MATCH (c:customer)-[:IN_NATION]->(n) "
    "RETURN n.name AS nation, collect(c) AS members ORDER BY nation",
    # blocked by count(DISTINCT ...)
    "MATCH (c:customer)-[:IN_NATION]->(n) "
    "RETURN n.name AS nation, count(DISTINCT c) AS nc ORDER BY nation",
    # label semi on a plain grouping key, no aggregates (projection)
    "MATCH (c:customer)-[:PLACED]->(o) "
    "WITH DISTINCT c MATCH (c)-[:IN_NATION]->(n) "
    "RETURN n.name AS nation, count(*) AS cnt ORDER BY nation",
    # OPTIONAL MATCH var must be excluded from both deferrals
    "MATCH (n:nation)-[:IN_REGION]->(r) "
    "OPTIONAL MATCH (c)-[:IN_NATION]->(n) "
    "RETURN r.name AS region, count(c) AS nc ORDER BY region",
    # agg over ANOTHER var's attached prop: c blocked (needs c_name
    # pre-agg), n still deferred — mixed mode
    "MATCH (c:customer)-[:IN_NATION]->(n) "
    "RETURN n.name AS nation, min(c.name) AS first_c, max(c.name) AS last_c "
    "ORDER BY nation",
]


@pytest.mark.parametrize("q", _DEFER_QUERIES)
def test_deferral_rewrites_are_invisible(spark, sf_dir, q, monkeypatch):
    from neo4j_enterprise_spark.operators import pattern as P
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    with_rewrites = sorted(tuple(r) for r in cypher_query(nodes, rels, q).collect())
    monkeypatch.setattr(P, "_deferrable_attach_vars", lambda *a, **k: set())
    monkeypatch.setattr(P, "_deferrable_kind_semis", lambda *a, **k: ({}, {}))
    without = sorted(tuple(r) for r in cypher_query(nodes, rels, q).collect())
    assert with_rewrites == without
    assert with_rewrites  # non-degenerate fixture


# ---------------------------------------------- r10 ADVICE hardening
# 1) sum deferral is blocked for float/double inputs (FP addition is
#    not associative, so sum-of-partial-sums is not bit-identical);
# 2) SPARK_GRAFT_DEBUG_INVARIANTS asserts endpoint closure on an
#    unfiltered pattern start (the r9 node-join skip's contract).


def test_sum_deferral_blocked_for_double(spark):
    from neo4j_enterprise_spark.operators.pattern import (
        _deferrable_attach_vars,
        _sum_input_is_exact,
    )

    nodes = spark.createDataFrame(
        [(1, "a", 1.5, 7)], "id long, name string, score double, cnt long"
    )
    carried = spark.createDataFrame([(2.5, 3)], "x double, y long")
    # RETURN n.name, sum(m.score): n deferrable only if the sum is exact
    items = [
        ("plain", "n", "name", False, "name"),
        ("agg:sum", "m", "score", False, "total"),
    ]
    attach = {"n": ["name"], "m": ["score"]}
    got = _deferrable_attach_vars(
        items, [], [], [], None, attach, nodes=nodes, carried=None
    )
    assert got == set()  # double input blocks the whole stage
    items_long = [
        ("plain", "n", "name", False, "name"),
        ("agg:sum", "m", "cnt", False, "total"),
    ]
    got_long = _deferrable_attach_vars(
        items_long, [], [], [], None,
        {"n": ["name"], "m": ["cnt"]}, nodes=nodes, carried=None,
    )
    assert got_long == {"n"}  # long input keeps n deferrable (m blocked as agg src)
    # carried-scalar resolution + conservative unknown
    assert _sum_input_is_exact("y", None, None, carried)
    assert not _sum_input_is_exact("x", None, None, carried)
    assert not _sum_input_is_exact("zz", None, None, carried)  # unresolvable


def test_unfiltered_start_invariant_debug(spark, monkeypatch):
    from neo4j_enterprise_spark.operators.pattern import match_path

    nodes = spark.createDataFrame(
        [(1, "customer", True, "A"), (2, "order", True, "B")],
        "id long, kind string, in_use boolean, name string",
    )
    rels_ok = spark.createDataFrame(
        [(10, 1, 2, "PLACED")], "id long, src long, dst long, type_name string"
    )
    rels_dangling = spark.createDataFrame(
        [(10, 1, 99, "PLACED")], "id long, src long, dst long, type_name string"
    )
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_INVARIANTS", "1")
    assert match_path(nodes, rels_ok, [("PLACED", "out")]).count() == 1
    with pytest.raises(ValueError, match="endpoint-closure"):
        match_path(nodes, rels_dangling, [("PLACED", "out")])
    # duplicate node ids also violate the contract
    dup_nodes = nodes.unionByName(nodes)
    with pytest.raises(ValueError, match="endpoint-closure"):
        match_path(dup_nodes, rels_ok, [("PLACED", "out")])
    # without the env var the skip is silent (performance contract)
    monkeypatch.delenv("SPARK_GRAFT_DEBUG_INVARIANTS")
    assert match_path(nodes, rels_dangling, [("PLACED", "out")]).count() == 1
