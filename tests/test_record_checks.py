"""Corruption matrix for the validation suite — mirrors the reference's
`FullCheckIntegrationTest.java:55-341` strategy: build a clean graph,
surgically corrupt one record, assert the exact violation class appears
(and that the clean graph is violation-free)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from neo4j_enterprise_spark.graph.generator import generate_graph
from neo4j_enterprise_spark.graph.model import NO_POINTER, PropertyGraph
from neo4j_enterprise_spark.operators import record_checks as rc

N = 120
R = 3  # rel slots per node (BAR, FOO, FOO)
P = 4  # prop slots per node (ARRAY, INTEGER, INTEGER, STRING)


@pytest.fixture(scope="module")
def clean(spark) -> PropertyGraph:
    g = generate_graph(spark, node_count=N)
    # materialize once; every corruption case reuses the cached tables
    return PropertyGraph(
        nodes=g.nodes.cache(),
        relationships=g.relationships.cache(),
        properties=g.properties.cache(),
        relationship_types=g.relationship_types.cache(),
        property_keys=g.property_keys.cache(),
        graph_props=g.graph_props,
    )


def _set(df, id_col, target_id, **updates):
    out = df
    for col, val in updates.items():
        out = out.withColumn(
            col, F.when(F.col(id_col) == target_id, F.lit(val)).otherwise(F.col(col))
        )
    return out


def _rules(violations) -> dict[str, int]:
    rows = violations.groupBy("rule").count().collect()
    return {r["rule"]: r["count"] for r in rows}


def test_clean_graph_has_no_violations(clean):
    assert rc.validate(clean).count() == 0


def test_generator_shape(clean):
    assert clean.nodes.count() == N
    assert clean.relationships.count() == N * R
    assert clean.properties.count() == N * P
    # every node's first outgoing rel is its chain head
    heads = clean.relationships.filter(F.col("src_prev") == NO_POINTER)
    assert heads.count() == N


def _window_chains(g: PropertyGraph) -> PropertyGraph:
    """Reference chain pointers: ascending id per owner, by window."""

    def link(df, prev, nxt, *owner):
        w = Window.partitionBy(*owner).orderBy("id")
        return df.withColumn(prev, F.coalesce(F.lag("id").over(w), F.lit(NO_POINTER))).withColumn(
            nxt, F.coalesce(F.lead("id").over(w), F.lit(NO_POINTER))
        )

    rels = link(g.relationships, "src_prev", "src_next", "src")
    rels = link(rels, "dst_prev", "dst_next", "dst").select(*g.relationships.columns)
    props = link(g.properties, "prev_prop", "next_prop", "owner_kind", "owner_id").select(
        *g.properties.columns
    )
    first_rel = rels.filter(F.col("src_prev") == NO_POINTER).select(
        F.col("src").alias("id"), F.col("id").alias("first_rel")
    )
    first_prop = props.filter(F.col("prev_prop") == NO_POINTER).select(
        F.col("owner_id").alias("id"), F.col("id").alias("first_prop")
    )
    nodes = (
        g.nodes.join(first_rel, "id", "left")
        .join(first_prop, "id", "left")
        .select(
            "id",
            "in_use",
            F.coalesce("first_rel", F.lit(NO_POINTER)).alias("next_rel"),
            F.coalesce("first_prop", F.lit(NO_POINTER)).alias("next_prop"),
        )
    )
    return PropertyGraph(nodes, rels, props, g.relationship_types, g.property_keys)


@pytest.mark.parametrize(
    "spec",
    [
        {"node_count": 30},
        {"node_count": 7, "rel_specs": {"A": 2, "B": 3}, "prop_specs": {"INTEGER": 3, "ARRAY": 1}},
        {"node_count": 5, "rel_specs": {"A": 1}, "prop_specs": {"STRING": 1}},
        {"node_count": 4, "rel_specs": {}, "prop_specs": {}},
    ],
)
def test_generator_chain_pointers_match_window_reference(spark, spec):
    g = generate_graph(spark, **spec)
    ref = _window_chains(g)
    for table in ("nodes", "relationships", "properties"):
        got, want = getattr(g, table), getattr(ref, table)
        assert got.schema == want.schema, table
        assert sorted(got.collect()) == sorted(want.collect()), table


def test_node_dangling_next_rel(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "nodes": _set(clean.nodes, "id", 5, next_rel=999_999)})
    rules = _rules(rc.check_nodes(g))
    assert rules == {"relationshipNotInUse": 1}


def test_node_rel_not_first_in_chain(clean):
    # second rel of node 5's chain has src_prev != -1
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "nodes": _set(clean.nodes, "id", 5, next_rel=5 * R + 1)})
    rules = _rules(rc.check_nodes(g))
    assert rules == {"relationshipNotFirstInChain": 1}


def test_node_rel_for_other_node(clean):
    # point node 5 at node 7's first rel (node 5 not an endpoint unless by luck of dst)
    rel_id = 7 * R
    row = clean.relationships.filter(F.col("id") == rel_id).collect()[0]
    assert row["src"] == 7
    if row["dst"] != 5:
        g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                             "nodes": _set(clean.nodes, "id", 5, next_rel=rel_id)})
        rules = _rules(rc.check_nodes(g))
        assert rules == {"relationshipForOtherNode": 1}


def test_rel_illegal_label(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "relationships": _set(clean.relationships, "id", 7, type_id=-1)})
    assert _rules(rc.check_relationships(g))["illegalLabel"] == 1


def test_rel_label_not_in_use(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "relationships": _set(clean.relationships, "id", 7, type_id=99)})
    assert _rules(rc.check_relationships(g))["labelNotInUse"] == 1


def test_rel_bad_endpoint(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "relationships": _set(clean.relationships, "id", 7, src=999_999)})
    rules = _rules(rc.check_relationships(g))
    assert rules["sourceNodeNotInUse"] == 1


def test_deleted_node_breaks_endpoints(clean):
    # deleting a node surfaces every rel that references it (J4 via in_use)
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "nodes": _set(clean.nodes, "id", 3, in_use=False)})
    rules = _rules(rc.check_relationships(g))
    n_src = clean.relationships.filter(F.col("src") == 3).count()
    n_dst = clean.relationships.filter(F.col("dst") == 3).count()
    assert rules.get("sourceNodeNotInUse", 0) == n_src
    assert rules.get("targetNodeNotInUse", 0) == n_dst


def test_rel_chain_back_reference_break(clean):
    # first rel of node 5 points next at the *third* rel (skipping one):
    # target shares node 5 but its src_prev references the skipped rel
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "relationships": _set(clean.relationships, "id", 5 * R,
                                               src_next=5 * R + 2)})
    rules = _rules(rc.check_relationships(g))
    assert rules.get("sourceNextDoesNotReferenceBack", 0) >= 1


def test_rel_chain_pointer_dangling(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "relationships": _set(clean.relationships, "id", 5 * R,
                                               src_next=888_888)})
    rules = _rules(rc.check_relationships(g))
    assert rules.get("sourceNextNotInUse", 0) == 1


def test_prop_chain_break(clean):
    # node 5's first prop points next at node 6's first prop
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "properties": _set(clean.properties, "id", 5 * P,
                                            next_prop=6 * P)})
    rules = _rules(rc.check_properties(g))
    assert rules.get("nextDoesNotReferenceBack", 0) >= 1


def test_prop_bad_key(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "properties": _set(clean.properties, "id", 21, key_id=99)})
    assert _rules(rc.check_properties(g))["keyNotInUse"] == 1
    g2 = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                          "properties": _set(clean.properties, "id", 21, key_id=-5)})
    assert _rules(rc.check_properties(g2))["invalidPropertyKey"] == 1


def test_prop_value_shape(clean):
    # INT-typed block missing its long value
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "properties": _set(clean.properties, "id", 21, value_long=None)})
    assert _rules(rc.check_properties(g))["invalidPropertyValue"] == 1


def test_prop_shared_chain_multiple_owners(clean):
    # node 8 claims node 9's chain head → multipleOwners + node 8's own
    # head orphaned + owner mismatch on the claimed head
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "nodes": _set(clean.nodes, "id", 8, next_prop=9 * P)})
    own = _rules(rc.check_ownership(g))
    assert own.get("multipleOwners", 0) == 1
    assert own.get("orphanChain", 0) == 1
    prim = _rules(rc.check_primitive_first_property(g))
    assert prim.get("propertyForOtherOwner", 0) == 1


def test_prop_orphan_chain(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "nodes": _set(clean.nodes, "id", 10, next_prop=NO_POINTER)})
    assert _rules(rc.check_ownership(g)).get("orphanChain", 0) == 1


def test_dict_empty_name(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "relationship_types": _set(clean.relationship_types, "id", 0, name="")})
    assert _rules(rc.check_dictionaries(g)) == {"emptyName": 1}


def test_validate_aggregates_all(clean):
    g = PropertyGraph(**{**clean.tables(), "graph_props": clean.graph_props,
                         "relationships": _set(clean.relationships, "id", 7, type_id=-1),
                         "relationship_types": _set(clean.relationship_types, "id", 0, name="")})
    rules = _rules(rc.validate(g))
    assert rules["illegalLabel"] == 1
    assert rules["emptyName"] == 1


def test_graph_props_clean_and_corrupted(clean):
    # clean singleton chain: no NEO_STORE violations
    assert rc.check_graph_props(clean).count() == 0

    # broken next pointer: dangling reference fires
    g = PropertyGraph(**{**clean.tables(),
                         "graph_props": _set(clean.graph_props, "id", 0,
                                             next_prop=99)})
    rules = _rules(rc.check_graph_props(g))
    assert rules.get("nextNotInUse", 0) == 1

    # two heads (chain split): head-count rule fires
    g2 = PropertyGraph(**{**clean.tables(),
                          "graph_props": _set(clean.graph_props, "id", 1,
                                              prev_prop=NO_POINTER)})
    rules2 = _rules(rc.check_graph_props(g2))
    assert rules2.get("propertyChainHeadCount", 0) == 1

    # foreign owner: ownership rule fires
    g3 = PropertyGraph(**{**clean.tables(),
                          "graph_props": _set(clean.graph_props, "id", 0,
                                              owner_kind="node")})
    assert _rules(rc.check_graph_props(g3)).get("propertyForOtherOwner", 0) == 1

    # bad dictionary key fires
    g4 = PropertyGraph(**{**clean.tables(),
                          "graph_props": _set(clean.graph_props, "id", 0,
                                              key_id=99)})
    assert _rules(rc.check_graph_props(g4)).get("keyNotInUse", 0) == 1

    # the full suite folds the family in and stays clean on the fixture
    assert rc.validate(clean).count() == 0
