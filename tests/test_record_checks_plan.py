"""Plan-shape pins for the b1 branch fusion: each check family must
keep its fused single-pass shape — one join per cross-store lookup, one
scan per store per pass — instead of regressing to the older
one-union-branch-per-rule form (which re-scanned the stores
and re-executed the same join once per rule).

Tables are built as literal DataFrames (LocalTableScan leaves) so the
counted joins/scans belong to the CHECK plans, not to the generator's
window/join pipeline."""

from __future__ import annotations

import io
import re
import sys

import pytest

from neo4j_enterprise_spark.graph.generator import fixture_graph
from neo4j_enterprise_spark.graph.model import PropertyGraph
from neo4j_enterprise_spark.operators import record_checks as rc

# numbered detail lines — exactly one per physical operator (the tree
# section repeats each operator name, so match only `(n) OpName`)
_JOIN = re.compile(
    r"^\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)",
    re.M,
)
_SCAN = re.compile(r"^\(\d+\) (?:LocalTableScan|Scan ExistingRDD|InMemoryTableScan)", re.M)


def _explain(df) -> str:
    buf = io.StringIO()
    stdout, sys.stdout = sys.stdout, buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


@pytest.fixture(scope="module")
def tiny(spark) -> PropertyGraph:
    nodes = spark.createDataFrame(
        [(0, True, 0, -1), (1, True, -1, 0)],
        "id long, in_use boolean, next_rel long, next_prop long",
    )
    rels = spark.createDataFrame(
        [(0, True, 0, 1, 0, -1, -1, -1, -1, -1)],
        "id long, in_use boolean, src long, dst long, type_id int, "
        "src_prev long, src_next long, dst_prev long, dst_next long, next_prop long",
    )
    props = spark.createDataFrame(
        [(0, True, 1, "node", 0, 0, "INT", 3, None, None, -1, -1)],
        "id long, in_use boolean, owner_id long, owner_kind string, seq int, "
        "key_id int, vtype string, value_long long, value_string string, "
        "value_array array<int>, prev_prop long, next_prop long",
    )
    dct = spark.createDataFrame([(0, True, "FOO")], "id int, in_use boolean, name string")
    return PropertyGraph(
        nodes=nodes,
        relationships=rels,
        properties=props,
        relationship_types=dct,
        property_keys=dct,
        graph_props=props.limit(0),
    )


def _counts(df) -> tuple[int, int]:
    plan = _explain(df)
    return len(_JOIN.findall(plan)), len(_SCAN.findall(plan))


def test_check_nodes_is_one_join_two_scans(tiny):
    joins, scans = _counts(rc.check_nodes(tiny))
    assert joins == 1, f"check_nodes must stay a single node⋈rel join, saw {joins}"
    assert scans == 2, f"check_nodes must scan each store once, saw {scans}"


def test_check_first_property_is_one_join(tiny):
    joins, scans = _counts(rc.check_primitive_first_property(tiny))
    assert joins == 1, f"first_property must stay a single owners⋈props join, saw {joins}"
    # owners = nodes ∪ rels (2 scans) + props (1)
    assert scans == 3, f"saw {scans} scans"


def test_check_relationships_is_three_passes(tiny):
    # label scan (1 join: broadcast dictionary) + stacked endpoint
    # anti-join (1) + stacked pointer self-join (1)
    joins, scans = _counts(rc.check_relationships(tiny))
    assert joins == 3, f"check_relationships must stay 3 joins (label/endpoints/pointers), saw {joins}"
    # rels scanned 4x (label, endpoints, pointer probe+target), nodes 1x,
    # dictionary 1x
    assert scans == 6, f"saw {scans} scans"


def test_check_properties_is_two_passes(tiny):
    # pointer self-join + fused key/value scan (broadcast dictionary join)
    joins, scans = _counts(rc.check_properties(tiny))
    assert joins == 2, f"check_properties must stay 2 joins (pointers + fused scan), saw {joins}"
    assert scans == 4, f"saw {scans} scans"


def test_check_ownership_is_one_join(tiny):
    joins, scans = _counts(rc.check_ownership(tiny))
    assert joins == 1, f"ownership must stay a single claims⋈heads outer join, saw {joins}"
    assert scans == 3, f"saw {scans} scans"


def test_fixture_partitioning_is_size_derived(spark):
    g = fixture_graph(spark, node_count=1234)
    # 1234 nodes / 3.7k rels / 4.9k props — far under 250k rows/partition
    for name, df in g.tables().items():
        assert df.rdd.getNumPartitions() == 1, (
            f"{name}: tiny fixture must persist as 1 partition, got "
            f"{df.rdd.getNumPartitions()} (size-derived layout regressed "
            "to the core-count default)"
        )
