"""Graph-model declared queries (SURVEY.md §2) over the derived graph.

Each query runs a real graph operator from ``operators/`` against the
TPC-H→graph derivation (``graph.derive``); the oracle embeds the identical
derivation as SQL CTEs, so the hash-match verifies the *operator*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.derive import (
    RELS_SQL,
    basket,
    copurchase,
    copurchase_cte,
    derived_nodes,
    derived_rels,
    graph_cte,
)
from ..graph.derive import ORDER_OFF as ORDER_OFF_SQL
from ..operators import community, reads, traversal, validation
from ..operators.diff import snapshot_added
from ..operators.pattern import cypher_match, cypher_query
from . import register
from ..catalog import load_table

# the part slice of the co-purchase algorithms (see graph.derive.basket)
_SLICE = 500
# the BFS seeds of the k-hop queries: every relationship source <= 20
_LOW_SRC_SEEDS = "SELECT src AS seed FROM rels WHERE src <= 20 GROUP BY src"


def _cypher(spark: SparkSession, sf_dir: str, text: str, **match) -> DataFrame:
    """``text`` compiled over the derived graph: a query (``MATCH ...``)
    by ``pattern.cypher_query``, a bare pattern (``(a)-[...]->(b)``, with
    ``cypher_match``'s keywords) by ``pattern.cypher_match``."""
    nodes, rels = derived_nodes(spark, sf_dir), derived_rels(spark, sf_dir)
    if text.startswith("("):
        return cypher_match(nodes, rels, text, **match)
    return cypher_query(nodes, rels, text)


def _frontier_cte(seeds: str, k: int) -> str:
    """CTE-list text: ``seeds`` (a SELECT of one ``seed`` column)
    expanded ``k`` hops out along ``rels``, one DISTINCT frontier per
    hop, and reach(seed, node_id, hops) with each reached node's minimal
    hop count (the seed itself at 0): the SQL twin of
    ``traversal.bfs_reachable``."""
    ctes = f"""seeds AS ({seeds}),
    hop0 AS (SELECT seed, seed AS node_id FROM seeds)"""
    for i in range(1, k + 1):
        ctes += f""",
    hop{i} AS (SELECT h.seed, r.dst AS node_id FROM hop{i - 1} h
             JOIN rels r ON r.src = h.node_id GROUP BY h.seed, r.dst)"""
    hops = " UNION ALL ".join(
        f"SELECT seed, node_id, {i} AS hops FROM hop{i}" for i in range(k + 1)
    )
    return f"""{ctes},
    reach AS (SELECT seed, node_id, MIN(hops) AS hops FROM ({hops})
              GROUP BY seed, node_id)"""


@register(
    "node_counts_by_kind",
    f"""
    {graph_cte(rels=False)}
    SELECT kind, COUNT(*) AS n_nodes FROM nodes GROUP BY kind ORDER BY kind
    """,
    doc="S1 node store scan + A2 record counts (`FullCheck.java:97-99`; "
    "`DataGenerator.java:206-211`).",
)
def node_counts_by_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        derived_nodes(spark, sf_dir)
        .groupBy("kind")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("kind")
    )


@register(
    "rel_counts_by_type",
    f"""
    {graph_cte(nodes=False)}
    SELECT type_name, COUNT(*) AS n_rels FROM rels GROUP BY type_name ORDER BY type_name
    """,
    doc="S2 relationship store scan (`FullCheck.java:100-102`).",
)
def rel_counts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        derived_rels(spark, sf_dir)
        .groupBy("type_name")
        .agg(F.count("*").alias("n_rels"))
        .orderBy("type_name")
    )


@register(
    "node_point_lookup",
    f"""
    {graph_cte(rels=False)}
    SELECT id, kind, in_use, name FROM nodes WHERE id = 42
    """,
    doc="S6 getNodeById (`LockableNode.java:46`): bucketed point lookup.",
)
def node_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reads.point_lookup(derived_nodes(spark, sf_dir), 42).select(
        "id", "kind", "in_use", "name"
    )


@register(
    "index_lookup_by_kind",
    f"""
    {graph_cte(rels=False)}
    SELECT id, name FROM nodes WHERE kind = 'nation' AND in_use ORDER BY id
    """,
    doc="S7 legacy index get(key,value) (`AbstractHaTest.java:285`): "
    "equality lookup on an indexed property.",
)
def index_lookup_by_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    return (
        nodes.filter((F.col("kind") == "nation") & F.col("in_use"))
        .select("id", "name")
        .orderBy("id")
    )


@register(
    "adjacency_out_typed",
    f"""
    {graph_cte(nodes=False)}
    SELECT id AS rel_id, dst, type_name FROM rels
    WHERE src = 3 AND type_name IN ('PLACED', 'IN_NATION')
    ORDER BY rel_id
    """,
    doc="P4 getRelationships(OUTGOING, types...) (`LockableNode.java:121-176`).",
)
def adjacency_out_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    return (
        reads.rels_of(rels, 3, "out", ["PLACED", "IN_NATION"])
        .select(F.col("id").alias("rel_id"), "dst", "type_name")
        .orderBy("rel_id")
    )


@register(
    "neighborhood_1hop",
    f"""
    {graph_cte()}
    SELECT e.src AS seed, n.id, n.kind, n.name
    FROM rels e JOIN nodes n ON e.dst = n.id
    WHERE e.src BETWEEN 1 AND 50
    ORDER BY seed, n.id
    """,
    doc="T1 1-hop expand: frontier ⋈ rels ⋈ nodes "
    "(`LockableRelationship.java:61` getOtherNode).",
)
def neighborhood_1hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    rels = derived_rels(spark, sf_dir)
    seeds = nodes.filter(F.col("id").between(1, 50)).select("id")
    out = reads.expand_1hop(nodes, rels, seeds, "out")
    return out.select("seed", "id", "kind", "name")


@register(
    "degree_by_type",
    f"""
    {graph_cte(nodes=False)}
    SELECT src AS node_id, type_name, COUNT(*) AS degree
    FROM rels GROUP BY src, type_name ORDER BY node_id, type_name
    """,
    doc="A4 relationship count per node by type (`CommonJobs.java:115-140`).",
    bench=True,
)
def degree_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        reads.degree_by_type(derived_rels(spark, sf_dir), "out")
    )  # order-insensitive compare; no global sort


@register(
    "degree_histogram",
    f"""
    {graph_cte(nodes=False)}
    SELECT degree, COUNT(*) AS n_nodes
    FROM (SELECT src, COUNT(*) AS degree FROM rels GROUP BY src)
    GROUP BY degree ORDER BY degree
    """,
    doc="A3 properties-per-entity histogram analog "
    "(`PropertyStats.java` via `DataGenerator.java:126-131`).",
)
def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reads.degree_histogram(derived_rels(spark, sf_dir)).orderBy("degree")


@register(
    "endpoints_not_in_use",
    f"""
    {graph_cte()}
    SELECT 'RELATIONSHIP' AS record_type, 'sourceNodeNotInUse' AS rule,
           r.id AS entity_id, CAST(r.src AS VARCHAR) AS detail
    FROM rels r
    WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.id = r.src AND n.in_use)
    UNION ALL
    SELECT 'RELATIONSHIP', 'targetNodeNotInUse', r.id, CAST(r.dst AS VARCHAR)
    FROM rels r
    WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.id = r.dst AND n.in_use)
    ORDER BY rule, entity_id
    """,
    doc="J4 flagship: endpoint referential integrity as left-anti joins "
    "(`RelationshipRecordCheck.java:35-37`, sourceNodeNotInUse).",
    bench=True,
)
def endpoints_not_in_use(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    rels = derived_rels(spark, sf_dir)
    return validation.endpoints_not_in_use(rels, nodes)  # order-insensitive compare; no global sort


@register(
    "violations_summary",
    f"""
    {graph_cte()}
    SELECT record_type, rule, COUNT(*) AS n_violations FROM (
      SELECT 'RELATIONSHIP' AS record_type, 'sourceNodeNotInUse' AS rule, r.id
      FROM rels r
      WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.id = r.src AND n.in_use)
      UNION ALL
      SELECT 'RELATIONSHIP', 'targetNodeNotInUse', r.id
      FROM rels r
      WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.id = r.dst AND n.in_use)
    ) GROUP BY record_type, rule ORDER BY record_type, rule
    """,
    doc="A1 ConsistencySummaryStatistics: violations per record type "
    "(`FullCheck.java:74-83`).",
)
def violations_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    rels = derived_rels(spark, sf_dir)
    v = validation.endpoints_not_in_use(rels, nodes)
    return validation.violations_summary(v).orderBy("record_type", "rule")


@register(
    "first_in_chain",
    f"""
    {graph_cte(nodes=False)}
    SELECT src AS node_id, id AS first_rel_id FROM (
      SELECT src, id, ROW_NUMBER() OVER (PARTITION BY src ORDER BY id) AS pos
      FROM rels)
    WHERE pos = 1 ORDER BY node_id
    """,
    doc="W1 first-in-chain (`NodeRecordCheck.java:77-83`): chain order = "
    "ascending rel id per src (FIXTURES.md §2).",
)
def first_in_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validation.first_in_chain(derived_rels(spark, sf_dir))


@register(
    "chain_neighbors",
    f"""
    {graph_cte(nodes=False)}
    SELECT id, src,
           LAG(id)  OVER (PARTITION BY src ORDER BY id) AS prev_id,
           LEAD(id) OVER (PARTITION BY src ORDER BY id) AS next_id
    FROM rels
    WHERE src BETWEEN 1000000 AND 1001000
    ORDER BY src, id
    """,
    doc="W2 prev/next back-pointer symmetry via lag/lead "
    "(`RelationshipRecordCheck.java:83-200`).",
)
def chain_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir).filter(F.col("src").between(1_000_000, 1_001_000))
    return validation.chain_neighbors(rels).orderBy("src", "id")


@register(
    "bfs_2hop_reach",
    f"""
    {graph_cte(nodes=False)},
    {_frontier_cte(_LOW_SRC_SEEDS, 2)}
    SELECT seed, COUNT(*) AS n_reachable FROM reach GROUP BY seed ORDER BY seed
    """,
    doc="T2 fixed-k BFS reachability (`LockableNode.java:178-201` "
    "traverse; iterative frontier joins, SURVEY §2.9).",
    bench=True,
)
def bfs_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)  # already memoized+persisted
    seeds = rels.filter(F.col("src") <= 20).select(F.col("src").alias("seed")).distinct()
    reached = traversal.bfs_reachable(rels, seeds, k=2, direction="out", cache_edges=False)
    return (
        reached.groupBy("seed").agg(F.count("*").alias("n_reachable")).orderBy("seed")
    )


@register(
    "graph_full_validation",
    None,  # non-SQL-expressible end-to-end (generator + 20+ rule suite) → rows-only check
    doc="FullCheck end-to-end (`FullCheck.java:71-123`): generate the "
    "reference-shaped fixture graph (S11, `DataGenerator.java:55-101`), "
    "inject one corruption per family (FullCheckIntegrationTest style), "
    "run the complete record-check suite, return the A1 summary.",
)
def graph_full_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.generator import generate_graph
    from ..graph.model import PropertyGraph
    from ..operators import record_checks as rc

    g = generate_graph(spark, node_count=500)
    corrupt = PropertyGraph(
        nodes=g.nodes.withColumn(
            "next_rel", F.when(F.col("id") == 5, F.lit(999_999)).otherwise(F.col("next_rel"))
        ),
        relationships=g.relationships.withColumn(
            "type_id", F.when(F.col("id") == 7, F.lit(-1)).otherwise(F.col("type_id"))
        ),
        properties=g.properties.withColumn(
            "key_id", F.when(F.col("id") == 21, F.lit(99)).otherwise(F.col("key_id"))
        ),
        relationship_types=g.relationship_types,
        property_keys=g.property_keys,
        graph_props=g.graph_props,
    )
    return validation.violations_summary(rc.validate(corrupt)).orderBy("record_type", "rule")


@register(
    "record_model_validation",
    f"""
    {graph_cte()},
    rels_rm AS (
      SELECT id, src, dst, type_id, type_name,
             COALESCE(LAG(id)  OVER (PARTITION BY src ORDER BY id), -1) AS src_prev,
             COALESCE(LEAD(id) OVER (PARTITION BY src ORDER BY id), -1) AS src_next,
             COALESCE(LAG(id)  OVER (PARTITION BY dst ORDER BY id), -1) AS dst_prev,
             COALESCE(LEAD(id) OVER (PARTITION BY dst ORDER BY id), -1) AS dst_next,
             (id % 997 <> 3) AS in_use
      FROM rels),
    live AS (SELECT * FROM rels_rm WHERE in_use),
    del AS (SELECT id FROM rels_rm WHERE NOT in_use),
    live_nodes AS (SELECT id FROM nodes WHERE in_use)
    SELECT 'RELATIONSHIP' AS record_type, 'sourceNodeNotInUse' AS rule,
           id AS entity_id, CAST(src AS VARCHAR) AS detail
    FROM live WHERE src NOT IN (SELECT id FROM live_nodes)
    UNION ALL
    SELECT 'RELATIONSHIP', 'targetNodeNotInUse', id, CAST(dst AS VARCHAR)
    FROM live WHERE dst NOT IN (SELECT id FROM live_nodes)
    UNION ALL
    SELECT 'RELATIONSHIP', 'sourcePrevNotInUse', id, CAST(src_prev AS VARCHAR)
    FROM live WHERE src_prev IN (SELECT id FROM del)
    UNION ALL
    SELECT 'RELATIONSHIP', 'sourceNextNotInUse', id, CAST(src_next AS VARCHAR)
    FROM live WHERE src_next IN (SELECT id FROM del)
    UNION ALL
    SELECT 'RELATIONSHIP', 'targetPrevNotInUse', id, CAST(dst_prev AS VARCHAR)
    FROM live WHERE dst_prev IN (SELECT id FROM del)
    UNION ALL
    SELECT 'RELATIONSHIP', 'targetNextNotInUse', id, CAST(dst_next AS VARCHAR)
    FROM live WHERE dst_next IN (SELECT id FROM del)
    ORDER BY rule, entity_id
    """,
    doc="J2/J3/J4 end-to-end on a record-model graph: derive chain "
    "pointers with windows (the linked-list storage of SURVEY §1.2), "
    "delete a sparse rel set (id % 997 = 3), run the FULL relationship "
    "record-check suite (`RelationshipRecordCheck.java:35-260`) — "
    "dangling chain pointers and endpoints must match the oracle "
    "exactly; back-reference/other-node rules fire on neither side.",
)
def record_model_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..graph.model import NO_POINTER, PropertyGraph
    from ..operators import record_checks as rc

    rels = derived_rels(spark, sf_dir)
    w_src = Window.partitionBy("src").orderBy("id")
    w_dst = Window.partitionBy("dst").orderBy("id")
    rels_rm = (
        rels.withColumn("src_prev", F.coalesce(F.lag("id").over(w_src), F.lit(NO_POINTER)))
        .withColumn("src_next", F.coalesce(F.lead("id").over(w_src), F.lit(NO_POINTER)))
        .withColumn("dst_prev", F.coalesce(F.lag("id").over(w_dst), F.lit(NO_POINTER)))
        .withColumn("dst_next", F.coalesce(F.lead("id").over(w_dst), F.lit(NO_POINTER)))
        .withColumn("in_use", F.col("id") % 997 != 3)
        .withColumn("next_prop", F.lit(NO_POINTER).cast("long"))
    )
    rel_types = spark.createDataFrame(
        [(i, True, n) for i, n in enumerate(
            ["PLACED", "CONTAINS", "IN_NATION", "SUPP_NATION", "IN_REGION"], start=1
        )],
        "id int, in_use boolean, name string",
    )
    nodes = derived_nodes(spark, sf_dir).select(
        "id", "in_use",
        F.lit(NO_POINTER).cast("long").alias("next_rel"),
        F.lit(NO_POINTER).cast("long").alias("next_prop"),
    )
    empty_props = spark.createDataFrame(
        [],
        "id long, in_use boolean, owner_id long, owner_kind string, prev_prop long, "
        "next_prop long, seq int, key_id int, vtype string, value_long long, "
        "value_string string, value_array array<int>",
    )
    g = PropertyGraph(
        nodes=nodes,
        relationships=rels_rm,
        properties=empty_props,
        relationship_types=rel_types,
        property_keys=rel_types.limit(0),
        graph_props=empty_props,
    )
    return rc.check_relationships(g)


@register(
    "pattern_2hop_paths",
    f"""
    {graph_cte(nodes=False)},
    e1 AS (SELECT src AS n0, dst AS n1 FROM rels WHERE type_name = 'PLACED'),
    e2 AS (SELECT src AS n1, dst AS n2 FROM rels WHERE type_name = 'CONTAINS')
    SELECT n0, COUNT(*) AS n_paths
    FROM e1 JOIN e2 USING (n1)
    WHERE n0 <= 30
    GROUP BY n0 ORDER BY n0
    """,
    doc="Cypher-ish pattern (c)-[:PLACED]->(o)-[:CONTAINS]->(p) compiled "
    "to joins (`operators/pattern.py`; SURVEY §4: pattern DSL → joins, "
    "no custom Catalyst rules).",
)
def pattern_2hop_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pattern import match_path

    nodes = derived_nodes(spark, sf_dir)
    rels = derived_rels(spark, sf_dir)
    paths = match_path(nodes, rels, [("PLACED", "out"), ("CONTAINS", "out")])
    return (
        paths.filter(F.col("n0") <= 30)
        .groupBy("n0")
        .agg(F.count("*").alias("n_paths"))
        .orderBy("n0")
    )


@register(
    "cypher_region_supply_paths",
    f"""
    {graph_cte()},
    e1 AS (SELECT src AS s, dst AS n FROM rels WHERE type_name = 'SUPP_NATION'),
    e2 AS (SELECT src AS n, dst AS r FROM rels WHERE type_name = 'IN_REGION'),
    paths AS (SELECT s, e1.n, r FROM e1 JOIN e2 ON e1.n = e2.n)
    SELECT p.r AS region_id, nd.name AS region_name, COUNT(*) AS n_paths
    FROM paths p JOIN nodes nd ON nd.id = p.r
    GROUP BY p.r, nd.name ORDER BY region_id
    """,
    doc="Cypher MATCH (s:supplier)-[:SUPP_NATION]->(n)-[:IN_REGION]->"
    "(r:region): the string DSL compiled to joins "
    "(`pattern.cypher_match`) — path count per region.",
)
def cypher_region_supply_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _cypher(
        spark, sf_dir, "(s:supplier)-[:SUPP_NATION]->(n)-[:IN_REGION]->(r:region)"
    )
    names = derived_nodes(spark, sf_dir).select(
        F.col("id").alias("r"), F.col("name").alias("region_name")
    )
    named = paths.join(names, "r")
    return (
        named.groupBy(F.col("r").alias("region_id"), "region_name")
        .agg(F.count("*").alias("n_paths"))
        .orderBy("region_id")
    )


@register(
    "cypher_var_length_reach",
    f"""
    {graph_cte()},
    e AS (SELECT src, dst FROM rels),
    l1 AS (SELECT DISTINCT src AS a, dst AS b FROM e),
    l2 AS (SELECT DISTINCT l1.a, e.dst AS b FROM l1 JOIN e ON e.src = l1.b),
    pairs AS (SELECT a, b FROM l1 UNION SELECT a, b FROM l2)
    SELECT p.a AS c, COUNT(*) AS n_reach
    FROM pairs p JOIN nodes n ON n.id = p.a AND n.kind = 'customer'
    WHERE p.a BETWEEN 1 AND 200
    GROUP BY p.a ORDER BY c
    """,
    doc="Cypher variable-length MATCH (c:customer)-[*1..2]->(x): the "
    "quantified edge binds distinct endpoint pairs over 1..2-hop walks "
    "(per-level DISTINCT bounds the frontier on cycles). Reachable-node "
    "count per customer.",
)
def cypher_var_length_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _cypher(spark, sf_dir, "(c:customer)-[*1..2]->(x)").filter(
        F.col("c").between(1, 200)
    )
    return paths.groupBy("c").agg(F.count("*").alias("n_reach")).orderBy("c")


@register(
    "traverse_pruned_2hop",
    f"""
    {graph_cte()},
    seeds AS (SELECT id AS seed FROM nodes WHERE id BETWEEN 1 AND 10 AND kind = 'customer'),
    hop1 AS (SELECT s.seed, r.dst AS node_id FROM seeds s
             JOIN rels r ON r.src = s.seed GROUP BY s.seed, r.dst),
    -- StopEvaluator: do not expand nation nodes
    hop2 AS (SELECT h.seed, r.dst AS node_id
             FROM hop1 h JOIN nodes n ON n.id = h.node_id AND n.kind <> 'nation'
             JOIN rels r ON r.src = h.node_id
             GROUP BY h.seed, r.dst),
    reach AS (SELECT seed, seed AS node_id, 0 AS hops FROM seeds
              UNION ALL
              SELECT seed, node_id, 1 FROM hop1
              UNION ALL
              SELECT h2.seed, h2.node_id, 2 FROM hop2 h2
              WHERE NOT EXISTS (SELECT 1 FROM hop1 h1
                                WHERE h1.seed = h2.seed AND h1.node_id = h2.node_id))
    SELECT seed, node_id, CAST(MIN(hops) AS INT) AS hops
    FROM reach GROUP BY seed, node_id ORDER BY seed, node_id
    """,
    doc="X1 Traverser with StopEvaluator (`LockableNode.java:178-201`): "
    "BFS that returns pruned nodes but does not expand them.",
)
def traverse_pruned_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    rels = derived_rels(spark, sf_dir)
    seeds = nodes.filter(
        (F.col("id").between(1, 10)) & (F.col("kind") == "customer")
    ).select(F.col("id").alias("seed"))
    return traversal.traverse(
        nodes, rels, seeds, k=2, direction="out",
        prune=(F.col("kind") == "nation"),
        cache_edges=False,  # derived_rels is memoized+persisted already
    ).orderBy("seed", "node_id")


@register(
    "round_robin_assignment",
    """
    SELECT s_suppkey,
           CAST((ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1) % 3 AS INT) AS slot
    FROM supplier ORDER BY s_suppkey
    """,
    doc="W3 round-robin start index (`SlavePriorities.java:68-103`): "
    "row_number % k slot assignment.",
)
def round_robin_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        ((F.row_number().over(Window.orderBy("s_suppkey")) - 1) % 3)
        .cast("int")
        .alias("slot"),
    ).orderBy("s_suppkey")


@register(
    "graph_validation_suite_100k",
    None,  # generator + full 20+-rule suite → rows-only
    doc="B1: the reference's canonical benchmark — full consistency check "
    "over a reference-shaped graph (nodes:rels:props = 1:3:4, "
    "`ConsistencyPerformanceCheck.java:76-87` at 1:100 scale: 100k nodes "
    "= 800k records; ~63k records/s steady-state on local[32]). Returns "
    "total violation count (zero on the clean fixture).",
    bench=True,
)
def graph_validation_suite_100k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.generator import fixture_graph
    from ..operators import record_checks as rc

    g = fixture_graph(spark, node_count=100_000)
    v = rc.validate(g)
    return spark.createDataFrame(
        [("ALL", v.count())], "record_type string, n_violations long"
    )


@register(
    "connected_components",
    # Bounded-round min-label propagation as a recursive CTE: the oracle
    # replays the exact synchronous update (label = min over self ∪
    # neighbors, self modeled as a self-loop edge) for the same 15
    # rounds, so converged-or-not the states agree round-for-round.
    f"""
    WITH RECURSIVE rels AS ({RELS_SQL}),
    sym AS (
      SELECT src AS a, dst AS b FROM rels
      UNION
      SELECT dst, src FROM rels
    ),
    universe AS (SELECT DISTINCT a FROM sym),
    edges AS (
      SELECT a, b FROM sym UNION SELECT a, a FROM universe
    ),
    cc(iter, node, label) AS (
      SELECT 0, a, a FROM universe
      UNION ALL
      SELECT cc.iter + 1, e.b, MIN(cc.label)
      FROM cc JOIN edges e ON e.a = cc.node
      WHERE cc.iter < 15
      GROUP BY cc.iter + 1, e.b
    )
    SELECT label AS component, COUNT(*) AS n_nodes
    FROM cc WHERE iter = 15
    GROUP BY label ORDER BY n_nodes DESC, component LIMIT 20
    """,
    doc="Batch graph analytics (SURVEY §7 M7 north star): connected "
    "components via iterative min-label propagation with checkpointed "
    "lineage — the DataFrame rendering of GraphX connectedComponents. "
    "Returns component sizes (deterministic: labels are min node ids).",
)
def connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    labels = traversal.connected_components(rels, max_iter=15)
    return (
        labels.groupBy("component")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "component")
        .limit(20)
    )


@register(
    "degree_pivot_by_type",
    """
    SELECT src AS node_id,
           CAST(SUM(CASE WHEN type_name = 'PLACED' THEN 1 ELSE 0 END) AS BIGINT) AS placed,
           CAST(SUM(CASE WHEN type_name = 'IN_NATION' THEN 1 ELSE 0 END) AS BIGINT) AS in_nation
    FROM (SELECT CAST(o_custkey AS BIGINT) AS src, 'PLACED' AS type_name FROM orders
          UNION ALL
          SELECT CAST(c_custkey AS BIGINT), 'IN_NATION' FROM customer)
    WHERE src <= 200
    GROUP BY src ORDER BY node_id
    """,
    doc="Pivot: per-node degree matrix (one column per relationship "
    "type) — Spark pivot() vs conditional-aggregation oracle.",
)
def degree_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir).filter(
        (F.col("src") <= 200) & F.col("type_name").isin("PLACED", "IN_NATION")
    )
    out = (
        rels.groupBy(F.col("src").alias("node_id"))
        .pivot("type_name", ["PLACED", "IN_NATION"])
        .agg(F.count(F.lit(1)))  # count(*) is rejected inside pivot
    )
    return out.select(
        "node_id",
        F.coalesce(F.col("PLACED"), F.lit(0)).cast("long").alias("placed"),
        F.coalesce(F.col("IN_NATION"), F.lit(0)).cast("long").alias("in_nation"),
    ).orderBy("node_id")


@register(
    "customer_props_unpivot",
    """
    SELECT c_custkey AS owner_id, key, value FROM (
      SELECT c_custkey, 'name' AS key, c_name AS value FROM customer
      UNION ALL
      SELECT c_custkey, 'mktsegment', c_mktsegment FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS VARCHAR) FROM customer)
    WHERE c_custkey < 100
    ORDER BY owner_id, key
    """,
    doc="Unpivot: wide row → (owner_id, key, value) property rows — the "
    "schemaless property-store encoding (SURVEY §1.6) via stack().",
)
def customer_props_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return (
        c.select(
            F.col("c_custkey").alias("owner_id"),
            F.expr(
                "stack(3, 'name', c_name, 'mktsegment', c_mktsegment, "
                "'nationkey', CAST(c_nationkey AS STRING)) AS (key, value)"
            ),
        )
        .orderBy("owner_id", "key")
    )


@register(
    "priority_take_k",
    """
    SELECT s_suppkey, s_name FROM supplier
    ORDER BY s_suppkey DESC LIMIT 3
    """,
    doc="W4/O1 fixed priority order (`SlavePriorities.java:105-125` "
    "fixed(): slaves sorted by server id descending, take "
    "tx_push_factor): orderBy desc + limit k.",
)
def priority_take_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    return s.select("s_suppkey", "s_name").orderBy(F.desc("s_suppkey")).limit(3)


@register(
    "cluster_member_rollup",
    """
    SELECT CAST(o_orderkey % 3 AS INT) AS master_id,
           COUNT(*) AS n_txs,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_tx
    FROM orders GROUP BY 1 ORDER BY master_id
    """,
    doc="A6 cluster member state rollup (`HighAvailabilityBean.java:"
    "86-113`, `ClusterDatabaseInfoProvider`): per-instance tx counts and "
    "last-applied tx over the commit stream (the orders-derived log, so "
    "the rollup is exactly SQL-oracle-checkable).",
)
def cluster_member_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.txlog import txlog_from_orders

    log = txlog_from_orders(spark, sf_dir)
    return (
        log.groupBy("master_id")
        .agg(F.count("*").alias("n_txs"), F.max("tx_id").alias("last_tx"))
        .orderBy("master_id")
    )


@register(
    "txlog_replay_roundtrip",
    None,  # generator+replay pipeline → rows-only check
    doc="S9/S10 tx-log export + replay (`RebuildFromLogs.java:61-100`): "
    "synthesize a commit stream, apply it to a generated base graph in "
    "two prefix/suffix slices, return per-table row counts of the result.",
)
def txlog_replay_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.generator import generate_graph
    from ..sources.txlog import export_range, replay, synthesize_txlog

    base = generate_graph(spark, node_count=200)
    log = synthesize_txlog(spark, n_txs=50, base_nodes=200)
    mid = replay(base, export_range(log, 0, 24))
    out = replay(mid, export_range(log, 25, 49))
    counts = [
        ("nodes", out.nodes.count()),
        ("relationships", out.relationships.count()),
        ("properties", out.properties.count()),
    ]
    return spark.createDataFrame(counts, "table string, n_rows long")


@register(
    "traverse_dfs_preorder",
    f"""
    WITH RECURSIVE rels AS ({RELS_SQL}),
    edges AS (
      SELECT src AS a, dst AS b FROM rels
      WHERE type_name IN ('PLACED', 'CONTAINS', 'IN_NATION', 'IN_REGION')),
    paths(seed, node, path, path_arr, depth) AS (
      SELECT id, id, printf('%016x', id), [id], 0
      FROM (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
            WHERE c_custkey <= 5) s
      UNION ALL
      SELECT p.seed, e.b, p.path || printf('%016x', e.b),
             list_append(p.path_arr, e.b), p.depth + 1
      FROM paths p JOIN edges e ON e.a = p.node
      WHERE p.depth < 3 AND NOT list_contains(p.path_arr, e.b)
    ),
    best AS (SELECT seed, node, MIN(path) AS path FROM paths GROUP BY seed, node)
    SELECT seed, node AS node_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY seed ORDER BY path) AS INT)
             AS preorder
    FROM best ORDER BY seed, preorder
    """,
    doc="T2 DFS traversal order (`LockableNode.java:178-201` Order.DEPTH_"
    "FIRST, ascending-id child expansion): per-seed preorder ranks over "
    "the out-directed derivation (a ≤3-level DAG, so the lex-min-path "
    "rendering is exact DFS preorder). Oracle enumerates all simple "
    "paths as a recursive CTE and ranks by minimal path.",
)
def traverse_dfs_preorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 5)
        .select(F.col("c_custkey").cast("long").alias("seed"))
    )
    return traversal.dfs_preorder(
        rels, seeds, k=3, direction="out",
        types=["PLACED", "CONTAINS", "IN_NATION", "IN_REGION"],
        cache_edges=False,  # derived_rels is memoized+persisted already
    ).orderBy("seed", "preorder")


@register(
    "snapshot_branch_divergence",
    """
    WITH a_nodes AS (
      SELECT CAST(o_orderkey AS BIGINT) AS id FROM orders
      WHERE o_orderdate < DATE '1997-01-01'),
    b_nodes AS (
      SELECT CAST(o_orderkey AS BIGINT) AS id FROM orders
      WHERE o_orderdate < DATE '1996-10-01'),
    a_props AS (
      SELECT CAST(o_orderkey AS BIGINT) AS id,
             CAST(FLOOR(o_totalprice) AS BIGINT) AS v
      FROM orders WHERE o_orderdate < DATE '1997-01-01'),
    b_props AS (
      SELECT CAST(o_orderkey AS BIGINT) AS id,
             CAST(FLOOR(o_totalprice) AS BIGINT)
             + CASE WHEN o_orderdate >= DATE '1996-07-01' THEN 1 ELSE 0 END AS v
      FROM orders WHERE o_orderdate < DATE '1996-10-01')
    SELECT 'nodes' AS store, 'only_a' AS side,
           (SELECT COUNT(*) FROM (SELECT * FROM a_nodes EXCEPT ALL SELECT * FROM b_nodes)) AS n_rows
    UNION ALL
    SELECT 'nodes', 'only_b',
           (SELECT COUNT(*) FROM (SELECT * FROM b_nodes EXCEPT ALL SELECT * FROM a_nodes))
    UNION ALL
    SELECT 'properties', 'only_a',
           (SELECT COUNT(*) FROM (SELECT * FROM a_props EXCEPT ALL SELECT * FROM b_props))
    UNION ALL
    SELECT 'properties', 'only_b',
           (SELECT COUNT(*) FROM (SELECT * FROM b_props EXCEPT ALL SELECT * FROM a_props))
    ORDER BY store, side
    """,
    doc="M4 branched-data detection (`BranchedDataPolicy.java:30-66`): "
    "two snapshot lineages fork — lineage A keeps committing through "
    "1996, lineage B stops in 1996-10 but rewrote totals from 1996-07 "
    "(the branched writes). The two-sided per-store EXCEPT ALL diff "
    "quantifies the divergence; all-zero would mean prefix-consistent.",
)
def snapshot_branch_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.model import PropertyGraph
    from ..sources.snapshot import detect_divergence

    o = load_table(spark, sf_dir, "orders")

    def lineage(cutoff: str, branched_from: str | None) -> PropertyGraph:
        sel = o.filter(F.col("o_orderdate") < F.lit(cutoff).cast("date"))
        v = F.floor(F.col("o_totalprice")).cast("long")
        if branched_from is not None:
            v = v + F.when(
                F.col("o_orderdate") >= F.lit(branched_from).cast("date"), 1
            ).otherwise(0)
        nodes = sel.select(F.col("o_orderkey").cast("long").alias("id"))
        props = sel.select(
            F.col("o_orderkey").cast("long").alias("id"), v.alias("v")
        )
        empty = nodes.limit(0)
        return PropertyGraph(
            nodes=nodes,
            relationships=empty,
            properties=props,
            relationship_types=empty,
            property_keys=empty,
        )

    a = lineage("1997-01-01", None)
    b = lineage("1996-10-01", "1996-07-01")
    return detect_divergence(a, b, tables=("nodes", "properties")).orderBy(
        "store", "side"
    )


@register(
    "txlog_replay_lww",
    """
    WITH writes AS (
      SELECT CAST(c_custkey AS BIGINT) AS owner_id, 0 AS key_id,
             CAST(FLOOR(c_acctbal) AS BIGINT) AS value_long,
             CAST(-1 AS BIGINT) AS tx_id
      FROM customer
      UNION ALL
      SELECT CAST(o_custkey AS BIGINT), CAST(o_orderkey % 3 AS INT),
             CAST(FLOOR(o_totalprice) AS BIGINT), CAST(o_orderkey AS BIGINT)
      FROM orders
    ),
    ranked AS (
      SELECT owner_id, key_id, value_long,
             ROW_NUMBER() OVER (PARTITION BY owner_id, key_id
                                ORDER BY tx_id DESC) AS rk
      FROM writes
    )
    SELECT owner_id, CAST(key_id AS INT) AS key_id, value_long
    FROM ranked WHERE rk = 1 AND owner_id <= 300
    ORDER BY owner_id, key_id
    """,
    doc="S10/O3 replay with an exact oracle: apply the orders-derived "
    "commit stream (`txlog_from_orders`) to a customer-derived base "
    "snapshot in two prefix/suffix slices (S9 `copyTransactions` ranges, "
    "`MasterImpl.java:494-499`), then read back the final property "
    "state. The oracle is the windowed last-write-wins over the same "
    "writes — proving the columnar replay (`RebuildFromLogs.java:85-100`) "
    "applies txs in tx-id order.",
)
def txlog_replay_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.txlog import base_graph_from_customers, export_range, replay, txlog_from_orders

    from ..graph.derive import _memo

    base = base_graph_from_customers(spark, sf_dir)
    # memoized per (session, sf_dir): a bare .persist() here would leak
    # one cache entry per invocation (driver + bench re-invoke queries)
    log = _memo(spark, sf_dir, "txlog_orders", lambda: txlog_from_orders(spark, sf_dir))
    mid = 25_000  # fixed split: LWW state is slice-point-independent
    first = replay(base, export_range(log, 0, mid))
    final = replay(first, export_range(log, mid + 1, 2**62))
    return (
        final.properties.filter(F.col("owner_id") <= 300)
        .select("owner_id", F.col("key_id").cast("int").alias("key_id"), "value_long")
        .orderBy("owner_id", "key_id")
    )


@register(
    "snapshot_diff_added",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice
    FROM orders WHERE o_orderdate < DATE '1997-01-01'
    EXCEPT ALL
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE)
    FROM orders WHERE o_orderdate < DATE '1996-01-01'
    ORDER BY o_orderkey
    """,
    doc="U2 snapshot diff (`DiffRecordStore.java`, "
    "`IncrementalDiffCheck.java:38-46`): rows added between two versions.",
)
def snapshot_diff_added(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("totalprice"), "o_orderdate"
    )
    old = o.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("date")).drop("o_orderdate")
    new = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")).drop("o_orderdate")
    return snapshot_added(old, new).orderBy("o_orderkey")


@register(
    "row_checksums",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           md5(CAST(n_nationkey AS VARCHAR) || '|' || n_name) AS checksum
    FROM nation ORDER BY id
    """,
    doc="F5 per-tx checksum (`TxChecksumVerifier.java`): portable per-row "
    "digest (md5 on both engines).",
)
def row_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.md5(
            F.concat(F.col("n_nationkey").cast("string"), F.lit("|"), F.col("n_name"))
        ).alias("checksum"),
    ).orderBy("id")


@register(
    "bfs_shortest_hops",
    f"""
    {graph_cte(nodes=False)},
    {_frontier_cte(_LOW_SRC_SEEDS, 2)}
    SELECT seed, node_id, CAST(hops AS INT) AS hops
    FROM reach ORDER BY seed, node_id
    """,
    doc="Shortest-hop distances (≤2) per seed — bfs_reachable's minimal "
    "hop counts exposed row-level (first-seen min per round is a "
    "map-side-combinable groupBy-min, the unweighted shortest-path "
    "contract; `RelationshipChainExplorer.java:39-63` walks the same "
    "frontier shape).",
)
def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    seeds = rels.filter(F.col("src") <= 20).select(F.col("src").alias("seed")).distinct()
    return traversal.bfs_reachable(rels, seeds, k=2, direction="out", cache_edges=False)


@register(
    "graph_harmonic_centrality",
    f"""
    {graph_cte(nodes=False)},
    {_frontier_cte(_LOW_SRC_SEEDS, 3)}
    SELECT seed,
           CAST(SUM(CASE hops WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END)
                AS BIGINT) AS harmonic_x6,
           COUNT(*) AS n_reached
    FROM reach WHERE node_id <> seed
    GROUP BY seed ORDER BY seed
    """,
    doc="Harmonic centrality (bounded radius 3) per seed: sum of 1/d "
    "over reachable nodes, scaled by lcm(1..3)=6 so the score is an "
    "exact BIGINT on both engines (6/d in {{6,3,2}} — no float-summation "
    "order dependence). Spark side reuses `bfs_reachable`'s frontier "
    "joins (min-hop contract); the oracle unrolls the three hops as "
    "DISTINCT-per-level CTEs. Centrality family beside "
    "pagerank/components (SURVEY §2.9 ext.).",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    seeds = rels.filter(F.col("src") <= 20).select(F.col("src").alias("seed")).distinct()
    reached = traversal.bfs_reachable(rels, seeds, k=3, direction="out", cache_edges=False)
    return (
        reached.filter(F.col("hops") > 0)
        .groupBy("seed")
        .agg(
            F.sum(
                F.when(F.col("hops") == 1, 6)
                .when(F.col("hops") == 2, 3)
                .otherwise(2)
            ).cast("long").alias("harmonic_x6"),
            F.count("*").alias("n_reached"),
        )
        .orderBy("seed")
    )


@register(
    "graph_betweenness_exact_small",
    """
    WITH cl AS (SELECT c_nationkey AS nk, COUNT(*) AS c
                FROM customer GROUP BY 1),
    sl AS (SELECT s_nationkey AS nk, COUNT(*) AS c
           FROM supplier GROUP BY 1),
    ln AS (SELECT n_nationkey AS nk, n_regionkey AS rk,
                  CAST(COALESCE(cl.c, 0) + COALESCE(sl.c, 0) AS BIGINT) AS l
           FROM nation LEFT JOIN cl ON cl.nk = n_nationkey
           LEFT JOIN sl ON sl.nk = n_nationkey),
    tr AS (SELECT rk, CAST(1 + SUM(1 + l) AS BIGINT) AS t,
                  CAST(SUM((1 + l) * (1 + l)) AS BIGINT) AS sq
           FROM ln GROUP BY rk),
    nat AS (SELECT CAST(nk + 4000000 AS BIGINT) AS node_id,
                   (t - 1) * (t - 1) - l - (t - 1 - l) * (t - 1 - l) AS bc
            FROM ln JOIN tr USING (rk)),
    reg AS (SELECT CAST(rk + 5000000 AS BIGINT) AS node_id,
                   (t - 1) * (t - 1) - sq AS bc
            FROM tr)
    SELECT node_id, bc FROM
      (SELECT * FROM nat UNION ALL SELECT * FROM reg)
    WHERE bc > 0 ORDER BY bc DESC, node_id
    """,
    doc="EXACT betweenness centrality "
    "(community.betweenness_exact_tree) over the membership hierarchy "
    "(customer/supplier -IN_NATION/SUPP_NATION-> nation -IN_REGION-> "
    "region, undirected): a forest, so every pair has a UNIQUE "
    "shortest path (sigma = 1, asserted) and Brandes' delta "
    "accumulation stays in BIGINTs — the hash-checkable exact variant "
    "beside the rows-only float-sigma sampled estimator. bc(v) = # "
    "ordered (s,t) pairs routed strictly through v; only nations and "
    "regions score > 0 (the broker nodes). The oracle derives the "
    "same counts independently via the tree-component identity "
    "bc(v) = (T-1)^2 - sum |C_i|^2 over the components left by "
    "removing v — two disjoint derivations, one hash. Spark side is "
    "the generic batched-all-sources machinery: each BFS level and "
    "each delta level is ONE join shuffled on the node key; at scale "
    "the identical plan runs on a source sample.",
)
def graph_betweenness_exact_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    tree = rels.filter(
        F.col("type_name").isin("IN_NATION", "SUPP_NATION", "IN_REGION")
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return (
        community.betweenness_exact_tree(tree, max_depth=4)
        .filter(F.col("bc") > 0)
        .orderBy(F.desc("bc"), "node_id")
    )


@register(
    "parts_copurchase_top20",
    f"""
    WITH {copurchase_cte()}
    SELECT a AS part_a, b AS part_b, n AS n_orders
    FROM e ORDER BY n_orders DESC, part_a, part_b LIMIT 20
    """,
    doc="Bipartite co-purchase projection: weighted part-part edges from "
    "the order-part graph (one self-join keyed on the order — shuffle on "
    "l_orderkey only). At 100 TB the quadratic per-order blow-up is "
    "bounded by capping items per order first (sampling.per_group_cap); "
    "synthetic orders hold ≤7 lines so the exact projection is safe here.",
)
def parts_copurchase_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        copurchase(spark, sf_dir)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("n").alias("n_orders"),
        )
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "property_upsert_projection",
    """
    WITH props AS (
      SELECT 'node' AS owner_kind, CAST(c_custkey AS BIGINT) AS owner_id,
             1 AS key_id, c_mktsegment AS value_string
      FROM customer),
    updates AS (
      SELECT 'node' AS owner_kind, CAST(c_custkey AS BIGINT) AS owner_id,
             1 AS key_id, 'MACHINERY' AS value_string
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 'node', CAST(c_custkey AS BIGINT), 2, 'vip'
      FROM customer WHERE c_custkey % 100 = 0)
    SELECT owner_kind, owner_id, key_id,
           COALESCE(u.value_string, p.value_string) AS value_string
    FROM props p FULL OUTER JOIN updates u USING (owner_kind, owner_id, key_id)
    ORDER BY owner_id, key_id
    """,
    doc="P2 batch property mutation, oracle-proven: upsert_properties "
    "(MERGE-style full-outer join keyed on the property triple — "
    "replaces matched blocks, appends new keys) applied to a "
    "customer-derived property store; the oracle replays the merge as "
    "COALESCE over the same FULL OUTER JOIN. One co-partitioned join "
    "(`PropertyStore` setProperty path, SURVEY §2.2).",
)
def property_upsert_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mutation import upsert_properties

    cust = load_table(spark, sf_dir, "customer")
    props = cust.select(
        F.lit("node").alias("owner_kind"),
        F.col("c_custkey").cast("long").alias("owner_id"),
        F.lit(1).alias("key_id"),
        F.col("c_mktsegment").alias("value_string"),
    )
    seg_updates = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select(
            F.lit("node").alias("owner_kind"),
            F.col("c_custkey").cast("long").alias("owner_id"),
            F.lit(1).alias("key_id"),
            F.lit("MACHINERY").alias("value_string"),
        )
    )
    vip_updates = (
        cust.filter(F.col("c_custkey") % 100 == 0)
        .select(
            F.lit("node").alias("owner_kind"),
            F.col("c_custkey").cast("long").alias("owner_id"),
            F.lit(2).alias("key_id"),
            F.lit("vip").alias("value_string"),
        )
    )
    return upsert_properties(props, seg_updates.unionByName(vip_updates)).orderBy(
        "owner_id", "key_id"
    )


@register(
    "property_store_scan",
    """
    WITH props AS (
      SELECT CAST(c_custkey AS BIGINT) AS owner_id, 'name' AS key,
             'STRING' AS value_type, c_name AS value_string,
             CAST(NULL AS BIGINT) AS value_long
      FROM customer
      UNION ALL
      SELECT CAST(c_custkey AS BIGINT), 'acctbal_cents', 'LONG',
             CAST(NULL AS VARCHAR),
             CAST(ROUND(c_acctbal * 100) AS BIGINT)
      FROM customer
      UNION ALL
      SELECT CAST(s_suppkey AS BIGINT) + 3000000, 'acctbal_cents', 'LONG',
             CAST(NULL AS VARCHAR), CAST(ROUND(s_acctbal * 100) AS BIGINT)
      FROM supplier)
    SELECT key, value_type, COUNT(*) AS n_blocks,
           COUNT(value_string) AS n_strings,
           CAST(SUM(value_long) AS BIGINT) AS sum_longs
    FROM props GROUP BY key, value_type ORDER BY key, value_type
    """,
    doc="S3/S4 property store scan over typed value columns: the "
    "union-typed (type tag + per-type column) encoding of the "
    "reference's dynamic property blocks (`PropertyStore`/dynamic "
    "string+array records, SURVEY §1.6), scanned and rolled up per key "
    "and type. Money quantized to integer cents so sums are exact. The "
    "derivation is a per-row projection — no shuffle before the rollup.",
)
def property_store_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    name_p = cust.select(
        F.col("c_custkey").cast("long").alias("owner_id"),
        F.lit("name").alias("key"),
        F.lit("STRING").alias("value_type"),
        F.col("c_name").alias("value_string"),
        F.lit(None).cast("long").alias("value_long"),
    )
    bal_c = cust.select(
        F.col("c_custkey").cast("long").alias("owner_id"),
        F.lit("acctbal_cents").alias("key"),
        F.lit("LONG").alias("value_type"),
        F.lit(None).cast("string").alias("value_string"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("value_long"),
    )
    bal_s = supp.select(
        (F.col("s_suppkey").cast("long") + 3_000_000).alias("owner_id"),
        F.lit("acctbal_cents").alias("key"),
        F.lit("LONG").alias("value_type"),
        F.lit(None).cast("string").alias("value_string"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("value_long"),
    )
    return (
        name_p.unionByName(bal_c)
        .unionByName(bal_s)
        .groupBy("key", "value_type")
        .agg(
            F.count("*").alias("n_blocks"),
            F.count("value_string").alias("n_strings"),
            F.sum("value_long").cast("long").alias("sum_longs"),
        )
        .orderBy("key", "value_type")
    )


@register(
    "cypher_property_map_match",
    f"""
    {graph_cte()},
    asia AS (SELECT id FROM nodes WHERE kind = 'region' AND name = 'ASIA'),
    e_reg AS (SELECT src AS n, dst AS r FROM rels WHERE type_name = 'IN_REGION'),
    e_nat AS (SELECT src AS c, dst AS n FROM rels WHERE type_name = 'IN_NATION'),
    paths AS (
      SELECT e_nat.c, e_nat.n, e_reg.r FROM e_reg
      JOIN asia ON asia.id = e_reg.r
      JOIN e_nat ON e_nat.n = e_reg.n)
    SELECT p.n AS nation_id, nd.name AS nation_name, COUNT(*) AS n_customers
    FROM paths p JOIN nodes nd ON nd.id = p.n
    GROUP BY p.n, nd.name ORDER BY nation_id
    """,
    doc="Cypher inline property map: MATCH (r:region {name: 'ASIA'})"
    "<-[:IN_REGION]-(n)<-[:IN_NATION]-(c) — the literal-valued map "
    "compiles to a broadcast semi-join on the selective bound set "
    "(pattern.cypher_match); customers per Asian nation.",
)
def cypher_property_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _cypher(
        spark,
        sf_dir,
        "(r:region {name: 'ASIA'})<-[:IN_REGION]-(n)<-[:IN_NATION]-(c)",
        attach={"n": ["name"]},  # RETURN-projection analog
    )
    return (
        paths.groupBy(
            F.col("n").alias("nation_id"), F.col("n_name").alias("nation_name")
        )
        .agg(F.count("*").alias("n_customers"))
        .orderBy("nation_id")
    )


@register(
    "parts_triangle_clustering",
    f"""
    WITH {copurchase_cte()},
    e2 AS (SELECT a AS pa, b AS pb FROM e WHERE n >= 2),
    tri AS (SELECT x.pa AS a, x.pb AS b, y.pb AS c
            FROM e2 x JOIN e2 y ON x.pb = y.pa
                      JOIN e2 z ON z.pa = x.pa AND z.pb = y.pb),
    nodes AS (SELECT a AS node_id FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT node_id, COUNT(*) AS t FROM nodes GROUP BY node_id),
    d2 AS (SELECT node_id, COUNT(*) AS d
           FROM (SELECT pa AS node_id FROM e2 UNION ALL SELECT pb FROM e2)
           GROUP BY node_id)
    SELECT d2.node_id,
           CAST(d2.d AS BIGINT) AS degree,
           CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS triangles,
           CASE WHEN d2.d >= 2
                THEN CAST(2 * COALESCE(tcnt.t, 0) AS DOUBLE)
                     / CAST(d2.d * (d2.d - 1) AS DOUBLE)
                ELSE 0.0 END AS clustering
    FROM d2 LEFT JOIN tcnt USING (node_id)
    ORDER BY node_id
    """,
    doc="Triangle counting + local clustering coefficient over the "
    "min-support-2 co-purchase graph (`traversal.triangle_counts`). "
    "Spark side runs the degree-oriented O(m^1.5) wedge-close algorithm; "
    "the oracle re-counts triangles with the naive canonical a<b 3-way "
    "self-join — two different algorithms, hash-identical output. "
    "Clustering = 2T/(d(d-1)) on exact integers (portable double). "
    "Graph-structure analytics beside connected_components/pagerank "
    "(SURVEY §2.9 ext.).",
)
def parts_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        copurchase(spark, sf_dir)
        .filter(F.col("n") >= 2)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return traversal.triangle_counts(edges).orderBy("node_id")


@register(
    "parts_weighted_distances",
    f"""
    WITH RECURSIVE {copurchase_cte()},
    und AS (SELECT a AS src, b AS dst, GREATEST(1, 5 - n) AS weight
            FROM e WHERE n >= 2),
    we AS (SELECT src, dst, weight FROM und
           UNION ALL SELECT dst, src, weight FROM und),
    seeds AS (SELECT DISTINCT src AS node_id FROM we WHERE src % 100 < 2),
    walk(node_id, d) AS (
      SELECT node_id, CAST(0 AS BIGINT) FROM seeds
      UNION
      SELECT we.dst, w.d + we.weight FROM walk w
      JOIN we ON we.src = w.node_id
      WHERE w.d + we.weight <= 12)
    SELECT node_id, CAST(MIN(d) AS BIGINT) AS dist
    FROM walk GROUP BY node_id ORDER BY node_id
    """,
    doc="Multi-source weighted shortest paths "
    "(`traversal.weighted_shortest_paths`, Bellman-Ford frontier "
    "relaxation) over the min-support-2 co-purchase graph with "
    "affinity weights greatest(1, 5-n), distance bound 12. The oracle "
    "replays it as a recursive-CTE path enumeration with UNION dedup — "
    "a second ORACLE-CHECKED iterative algorithm beside "
    "docs_neardup_clusters; two different algorithms, identical "
    "fixpoint. Each Spark round shuffles only the improved frontier.",
)
def parts_weighted_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = (
        copurchase(spark, sf_dir)
        .filter(F.col("n") >= 2)
        .select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            F.greatest(F.lit(1), F.lit(5) - F.col("n")).alias("weight"),
        )
    )
    edges = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    seeds = edges.filter(F.col("src") % 100 < 2).select(
        F.col("src").alias("seed")
    ).distinct()
    return traversal.weighted_shortest_paths(edges, seeds, max_dist=12).orderBy("node_id")


@register(
    "cypher_where_aggregate",
    f"""
    {graph_cte()},
    placed AS (SELECT src AS c, dst AS o FROM rels WHERE type_name = 'PLACED')
    SELECT nd.name AS customer_name, COUNT(*) AS n_orders
    FROM placed p
    JOIN nodes nd ON nd.id = p.c AND nd.kind = 'customer'
    WHERE nd.in_use = true AND nd.name < 'Customer#000000100'
    GROUP BY nd.name ORDER BY n_orders DESC, customer_name LIMIT 20
    """,
    doc="Full Cypher-ish read query (`pattern.cypher_query`): MATCH "
    "(c:customer)-[:PLACED]->(o:order) WHERE c.in_use = true AND "
    "c.name < ... RETURN c.name, count(*) ORDER BY ... LIMIT 20 — the "
    "clause pipeline compiled into ONE Catalyst plan (WHERE predicates "
    "push into the pattern joins; ORDER BY+LIMIT becomes "
    "TakeOrderedAndProject, no global sort).",
)
def cypher_where_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer)-[:PLACED]->(o:order) "
        "WHERE c.in_use = true AND c.name < 'Customer#000000100' "
        "RETURN c.name AS customer_name, count(*) AS n_orders "
        "ORDER BY n_orders DESC, customer_name LIMIT 20",
    )


@register(
    "cypher_with_having",
    f"""
    {graph_cte()},
    heavy AS (
      SELECT src AS c, COUNT(*) AS n_orders
      FROM rels WHERE type_name = 'PLACED'
      GROUP BY src HAVING COUNT(*) >= 12),
    in_nation AS (SELECT src AS c, dst AS n FROM rels
                  WHERE type_name = 'IN_NATION')
    SELECT nd.name AS nation_name,
           COUNT(*) AS n_heavy_customers,
           CAST(SUM(h.n_orders) AS BIGINT) AS total_orders
    FROM heavy h
    JOIN in_nation i ON i.c = h.c
    JOIN nodes nd ON nd.id = i.n
    GROUP BY nd.name ORDER BY nation_name
    """,
    doc="Cypher WITH chaining — the HAVING idiom plus a second MATCH "
    "(`pattern.cypher_query` staged compilation): MATCH (c:customer)-"
    "[:PLACED]->(o) WITH c, count(*) AS n_orders WHERE n_orders >= 12 "
    "MATCH (c)-[:IN_NATION]->(n) RETURN n.name, count(*), "
    "sum(n_orders). Each WITH is one aggregate barrier; the follow-up "
    "MATCH equi-joins on the carried variable, so the whole pipeline is "
    "still a single Catalyst plan (multi-stage `WITH` is the most "
    "common real-Cypher idiom over the reference's traversal surface, "
    "`LockableNode.java:178-201`).",
    bench=True,
)
def cypher_with_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer)-[:PLACED]->(o) "
        "WITH c, count(*) AS n_orders "
        "WHERE n_orders >= 12 "
        "MATCH (c)-[:IN_NATION]->(n) "
        "RETURN n.name AS nation_name, count(*) AS n_heavy_customers, "
        "sum(n_orders) AS total_orders "
        "ORDER BY nation_name",
    )


@register(
    "cypher_with_collect",
    f"""
    {graph_cte()},
    in_region AS (SELECT src AS n, dst AS r FROM rels
                  WHERE type_name = 'IN_REGION')
    SELECT rn.name AS region_name,
           array_to_string(list_sort(list(nn.name)), '|') AS nation_names,
           COUNT(*) AS n_nations
    FROM in_region ir
    JOIN nodes nn ON nn.id = ir.n
    JOIN nodes rn ON rn.id = ir.r
    GROUP BY rn.name
    HAVING COUNT(*) >= 5
    ORDER BY region_name
    """,
    doc="Cypher collect() aggregation through a WITH barrier: MATCH "
    "(n:nation)-[:IN_REGION]->(r:region) WITH r, collect(n.name) AS "
    "names, count(*) AS n_nations WHERE n_nations >= 5 RETURN r.name, "
    "names, n_nations. collect() compiles to sort_array(collect_list) "
    "(deterministic rendering of Cypher's unordered collect); the "
    "carried node variable r attaches its name via an id-keyed join in "
    "the final stage. Output pipes the list through concat_ws so the "
    "value-hash is engine-portable.",
)
def cypher_with_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _cypher(
        spark,
        sf_dir,
        "MATCH (n:nation)-[:IN_REGION]->(r:region) "
        "WITH r, collect(n.name) AS names, count(*) AS n_nations "
        "WHERE n_nations >= 5 "
        "RETURN r.name AS region_name, names, n_nations "
        "ORDER BY region_name",
    )
    return out.select(
        "region_name",
        F.concat_ws("|", F.col("names")).alias("nation_names"),
        "n_nations",
    )


@register(
    "cypher_skip_page",
    f"""
    {graph_cte(rels=False)}
    SELECT name AS customer_name FROM nodes
    WHERE kind = 'customer' AND in_use = true
    ORDER BY customer_name LIMIT 10 OFFSET 25
    """,
    doc="Cypher pagination: MATCH (c:customer) WHERE c.in_use = true "
    "RETURN c.name ORDER BY ... SKIP 25 LIMIT 10 — SKIP compiles to "
    "relational OFFSET inside the same single plan.",
)
def cypher_skip_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer) WHERE c.in_use = true "
        "RETURN c.name AS customer_name "
        "ORDER BY customer_name SKIP 25 LIMIT 10",
    )


@register(
    "cypher_return_distinct",
    f"""
    {graph_cte()}
    SELECT DISTINCT n.name AS nation_name
    FROM rels e
    JOIN nodes c ON c.id = e.src AND c.kind = 'customer'
    JOIN nodes n ON n.id = e.dst AND n.kind = 'nation'
    WHERE e.type_name = 'IN_NATION' AND c.name < 'Customer#000000200'
    ORDER BY nation_name
    """,
    doc="Cypher RETURN DISTINCT: MATCH (c:customer)-[:IN_NATION]->"
    "(n:nation) WHERE c.name < ... RETURN DISTINCT n.name — the "
    "projection dedupe in the clause pipeline.",
)
def cypher_return_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) "
        "WHERE c.name < 'Customer#000000200' "
        "RETURN DISTINCT n.name AS nation_name ORDER BY nation_name",
    )


@register(
    "cypher_optional_match",
    f"""
    {graph_cte()},
    cust AS (SELECT id FROM nodes WHERE kind = 'customer'),
    placed AS (SELECT src, dst FROM rels WHERE type_name = 'PLACED')
    SELECT c.id AS customer_id, COUNT(p.dst) AS n_orders
    FROM cust c LEFT JOIN placed p ON p.src = c.id
    GROUP BY c.id ORDER BY customer_id
    """,
    doc="OPTIONAL MATCH (`pattern.cypher_query`): MATCH (c:customer) "
    "OPTIONAL MATCH (c)-[:PLACED]->(o) RETURN c, count(o) — compiled to "
    "a LEFT OUTER join on the shared variable; count(o) skips NULL "
    "bindings exactly like Cypher, so zero-order customers appear with "
    "n_orders = 0. Oracle = the same left join in SQL.",
)
def cypher_optional_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer) OPTIONAL MATCH (c)-[:PLACED]->(o) "
        "RETURN c AS customer_id, count(o) AS n_orders ORDER BY customer_id",
    )


@register(
    "cypher_string_predicates",
    f"""
    {graph_cte()},
    sn AS (SELECT src AS s, dst AS n FROM rels WHERE type_name = 'SUPP_NATION')
    SELECT nd.name AS nation_name, COUNT(*) AS n_suppliers
    FROM sn JOIN nodes nd ON nd.id = sn.n
    WHERE nd.name LIKE 'NATION\\_1%' ESCAPE '\\' AND nd.name LIKE '%5'
    GROUP BY nd.name ORDER BY nation_name
    """,
    doc="Cypher string predicates in the WHERE grammar "
    "(`pattern.cypher_query`): n.name STARTS WITH 'NATION_1' AND "
    "n.name ENDS WITH '5' compiled to startswith/endswith Column "
    "predicates (JVM string kernels, pushable); oracle = anchored "
    "LIKE patterns with escaped underscore.",
)
def cypher_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (s:supplier)-[:SUPP_NATION]->(n:nation) "
        "WHERE n.name STARTS WITH 'NATION_1' AND n.name ENDS WITH '5' "
        "RETURN n.name AS nation_name, count(*) AS n_suppliers "
        "ORDER BY nation_name",
    )


def _label_rounds_cte(rounds: int) -> str:
    """CTE-list text: ``rounds`` unrolled synchronous label-propagation
    rounds over ``adj(u, v)``, from l0 (each node its own label) to
    l{rounds}: each node takes its neighbours' most frequent label, ties
    to the smaller one."""
    ctes = "l0 AS (SELECT DISTINCT u AS node_id, u AS label FROM adj)"
    for r in range(1, rounds + 1):
        ctes += f""",
    c{r} AS (SELECT a.u AS node_id, l.label, COUNT(*) AS cnt
           FROM adj a JOIN l{r - 1} l ON l.node_id = a.v GROUP BY 1, 2),
    l{r} AS (SELECT node_id, label FROM c{r} QUALIFY ROW_NUMBER() OVER
           (PARTITION BY node_id ORDER BY cnt DESC, label) = 1)"""
    return ctes


@register(
    "graph_label_propagation_derived",
    f"""
    {graph_cte(nodes=False)},
    adj AS (SELECT src AS u, dst AS v FROM rels
            UNION SELECT dst, src FROM rels),
    {_label_rounds_cte(2)}
    SELECT label AS community, COUNT(*) AS n_nodes
    FROM l2 GROUP BY label ORDER BY n_nodes DESC, community LIMIT 20
    """,
    doc="Community detection: 2-round synchronous label propagation "
    "(most-frequent neighbor label, ties to the smallest — deterministic "
    "LPA) over the undirected derived graph; top-20 community sizes. "
    "Oracle unrolls both rounds as SQL CTEs — the 4th oracle-checked "
    "iterative algorithm (after BFS, Bellman-Ford, near-dup closure). "
    "Per round: one count shuffle + one per-node argmax aggregation. "
    "Same operator as graph_label_propagation "
    "(community.label_propagation); like the oracle's UNION edge set, it "
    "counts a self-loop as a vote for the node's own label.",
)
def graph_label_propagation_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    edges = rels.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    labels = community.label_propagation(edges, rounds=2)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "community")
        .limit(20)
    )


@register(
    "graph_kcore_summary",
    # Bounded-round peel as a recursive CTE: each round keeps edges whose
    # both endpoints have degree >= k (window counts over the symmetric
    # edge set), run for the same 30-round cap as the Spark operator;
    # past the fixpoint the round is a no-op, so the states agree.
    f"""
    WITH RECURSIVE rels AS ({RELS_SQL}),
    sym AS (
      SELECT src AS a, dst AS b FROM rels WHERE src <> dst
      UNION
      SELECT dst, src FROM rels WHERE src <> dst
    ),
    peel(iter, a, b) AS (
      -- explicit DISTINCT: DuckDB 1.0 does not fully dedupe the inlined
      -- UNION CTE when it feeds a recursive base term, and duplicate
      -- edges would inflate the window degree counts
      SELECT DISTINCT 0, a, b FROM sym
      UNION ALL
      SELECT iter + 1, a, b FROM (
        SELECT iter, a, b,
               COUNT(*) OVER (PARTITION BY iter, a) AS da,
               COUNT(*) OVER (PARTITION BY iter, b) AS db
        FROM peel
      )
      WHERE iter < 30 AND da >= 4 AND db >= 4
    ),
    core AS (
      SELECT a AS node_id, COUNT(*) AS degree
      FROM peel WHERE iter = 30 GROUP BY a HAVING COUNT(*) >= 4
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS core_nodes,
           CAST(COALESCE(MIN(degree), 0) AS BIGINT) AS min_degree,
           CAST(COALESCE(MAX(degree), 0) AS BIGINT) AS max_degree,
           CAST(COALESCE(SUM(degree), 0) AS BIGINT) AS sum_degree
    FROM core
    """,
    doc="k-core decomposition (k=4) via iterative peeling: repeatedly "
    "drop nodes of undirected degree < 4 until fixpoint; returns the "
    "surviving core's size and degree stats. Unit-tested on known "
    "graphs (triangle+pendant, clique) in test_traversal; oracle = "
    "bounded-round peel as a recursive CTE with window degree counts.",
)
def graph_kcore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    core = traversal.k_core(rels, k=4)
    return core.agg(
        F.count("*").alias("core_nodes"),
        F.coalesce(F.min("degree"), F.lit(0)).alias("min_degree"),
        F.coalesce(F.max("degree"), F.lit(0)).alias("max_degree"),
        F.coalesce(F.sum("degree"), F.lit(0)).alias("sum_degree"),
    )


@register(
    "index_lookup_materialized",
    f"""
    {graph_cte(rels=False)}
    SELECT id, name FROM nodes WHERE kind = 'nation' AND in_use ORDER BY id
    """,
    doc="S7 via the materialized inverted index (`sources/index.py`): "
    "build index_entries(index_name, key, value, entity_id) from the "
    "node table, write it partitioned by (index_name, key) and "
    "value-sorted (partition pruning + row-group pruning for every "
    "get), then answer forNodes('nodes').get('kind', 'nation') from the "
    "index alone and rejoin names. Same oracle as the direct-scan "
    "`index_lookup_by_kind` — proving index and scan agree, the "
    "index-consistency property the reference's TestPartialPullUpdates "
    "exercises.",
)
def index_lookup_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import index as idx

    nodes = derived_nodes(spark, sf_dir).filter(F.col("in_use"))
    entries = idx.index_entries(nodes, "nodes", "id", ["kind", "name"])
    out_dir = idx.default_index_dir(sf_dir)
    idx.write_index(entries, out_dir)
    hits = idx.lookup(spark, out_dir, "nodes", "kind", "nation")
    return (
        hits.join(nodes, hits["entity_id"] == nodes["id"])
        .select("id", "name")
        .orderBy("id")
    )


@register(
    "property_stats_histogram",
    """
    WITH props AS (
      SELECT CAST(c_custkey AS BIGINT) AS owner_id, 'STRING' AS vtype FROM customer
      UNION ALL
      SELECT CAST(c_custkey AS BIGINT), 'STRING' FROM customer
      UNION ALL
      SELECT CAST(c_custkey AS BIGINT), 'INT' FROM customer
      UNION ALL
      SELECT CAST(o_orderkey + 1000000 AS BIGINT), 'INT' FROM orders
      UNION ALL
      SELECT CAST(o_orderkey + 1000000 AS BIGINT), 'STRING' FROM orders
      UNION ALL
      SELECT CAST(l_orderkey + 1000000 AS BIGINT), 'INT' FROM lineitem),
    chain_lens AS (
      SELECT owner_id, COUNT(*) AS n_props FROM props GROUP BY owner_id),
    size_hist AS (
      SELECT 'chain_len' AS metric, CAST(n_props AS VARCHAR) AS bucket,
             COUNT(*) AS n
      FROM chain_lens GROUP BY n_props),
    type_hist AS (
      SELECT 'vtype' AS metric, vtype AS bucket, COUNT(*) AS n
      FROM props GROUP BY vtype)
    SELECT metric, bucket, n FROM size_hist
    UNION ALL
    SELECT metric, bucket, n FROM type_hist
    ORDER BY metric, bucket
    """,
    doc="A3's literal reference shape (`PropertyStats.java:37-52`): the "
    "property store's blocks-per-record size histogram plus the per-"
    "PropertyType histogram, over the derived property store (customer "
    "props + order props + one per-lineitem block, so chain lengths "
    "vary 1..9). Both histograms in one pass: two map-side-combinable "
    "aggregations over a narrow union.",
)
def property_stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    oid = (F.col("o_orderkey") + ORDER_OFF_SQL).cast("long")
    lid = (F.col("l_orderkey") + ORDER_OFF_SQL).cast("long")
    cid = F.col("c_custkey").cast("long")
    props = (
        c.select(cid.alias("owner_id"), F.lit("STRING").alias("vtype"))
        .unionByName(c.select(cid.alias("owner_id"), F.lit("STRING").alias("vtype")))
        .unionByName(c.select(cid.alias("owner_id"), F.lit("INT").alias("vtype")))
        .unionByName(o.select(oid.alias("owner_id"), F.lit("INT").alias("vtype")))
        .unionByName(o.select(oid.alias("owner_id"), F.lit("STRING").alias("vtype")))
        .unionByName(li.select(lid.alias("owner_id"), F.lit("INT").alias("vtype")))
    )
    size_hist = (
        props.groupBy("owner_id")
        .agg(F.count("*").alias("n_props"))
        .groupBy("n_props")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("chain_len").alias("metric"),
            F.col("n_props").cast("string").alias("bucket"),
            "n",
        )
    )
    type_hist = props.groupBy("vtype").agg(F.count("*").alias("n")).select(
        F.lit("vtype").alias("metric"), F.col("vtype").alias("bucket"), "n"
    )
    return size_hist.unionByName(type_hist).orderBy("metric", "bucket")


@register(
    "index_put_if_absent",
    """
    WITH existing AS (
      SELECT CAST(c_custkey AS VARCHAR) AS value,
             CAST(-c_custkey AS BIGINT) AS winner_id
      FROM customer WHERE c_custkey % 2 = 0),
    batch AS (
      SELECT CAST(o_custkey AS VARCHAR) AS value,
             CAST(o_orderkey AS BIGINT) AS entity_id
      FROM orders),
    first_writer AS (
      SELECT value, MIN(entity_id) AS first_entity FROM batch GROUP BY value),
    final AS (
      SELECT fw.value, COALESCE(e.winner_id, fw.first_entity) AS winner_id
      FROM first_writer fw LEFT JOIN existing e ON e.value = fw.value),
    conflicts AS (
      SELECT b.value, COUNT(*) AS n FROM batch b
      JOIN final f ON b.value = f.value AND b.entity_id <> f.winner_id
      GROUP BY b.value)
    SELECT CAST(f.value AS BIGINT) AS cust, f.winner_id,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_conflicts
    FROM final f LEFT JOIN conflicts c ON c.value = f.value
    WHERE CAST(f.value AS BIGINT) <= 200
    ORDER BY cust
    """,
    doc="S7 unique-entity putIfAbsent (`CommonJobs.java:928`, "
    "`MasterImpl.java:524-535` index write locks → windowed "
    "first-writer-wins): even customers pre-claim their slot, every "
    "order races to claim its customer's; the oracle replays the merge "
    "and conflict counts in plain SQL.",
)
def index_put_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import index as idx

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    existing = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.lit("cust_claims").alias("index_name"),
        F.lit("cust").alias("key"),
        F.col("c_custkey").cast("string").alias("value"),
        (-F.col("c_custkey")).cast("long").alias("entity_id"),
    )
    batch = o.select(
        F.lit("cust_claims").alias("index_name"),
        F.lit("cust").alias("key"),
        F.col("o_custkey").cast("string").alias("value"),
        F.col("o_orderkey").cast("long").alias("entity_id"),
        F.col("o_orderkey").cast("long").alias("tx_id"),
    )
    merged, conflicts = idx.put_if_absent(existing, batch)
    attempted = batch.select("index_name", "key", "value").distinct()
    winners = merged.join(attempted, ["index_name", "key", "value"]).select(
        "value", F.col("entity_id").alias("winner_id")
    )
    ncf = conflicts.groupBy("value").agg(F.count("*").alias("n"))
    return (
        winners.join(ncf, "value", "left")
        .select(
            F.col("value").cast("long").alias("cust"),
            "winner_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_conflicts"),
        )
        .filter(F.col("cust") <= 200)
        .orderBy("cust")
    )


@register(
    "cypher_shortest_path",
    f"""
    {graph_cte()},
    {_frontier_cte("SELECT id AS seed FROM nodes WHERE kind = 'supplier'", 3)}
    SELECT m.seed AS a, m.node_id AS b, CAST(m.hops AS INT) AS hops
    FROM reach m JOIN nodes n ON n.id = m.node_id AND n.kind = 'region'
    ORDER BY a, b
    """,
    doc="Cypher shortestPath(): MATCH p = shortestPath((a {kind:'supplier'})"
    "-[*1..3]->(b {kind:'region'})) RETURN a, b, length(p). Compiled to "
    "the bfs_reachable frontier (per-source first-seen min hops), "
    "endpoint-filtered — never an all-pairs product.",
)
def cypher_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH p = shortestPath((a {kind: 'supplier'})-[*1..3]->(b {kind: 'region'})) "
        "RETURN a, b, length(p) AS hops ORDER BY a, b",
    )


@register(
    "cypher_collect_unwind",
    f"""
    {graph_cte()}
    SELECT r.dst AS n, r.src AS m
    FROM rels r JOIN nodes nn ON nn.id = r.dst AND nn.kind = 'nation'
    WHERE r.type_name = 'SUPP_NATION'
    ORDER BY n, m
    """,
    doc="Cypher collect()→UNWIND roundtrip: MATCH (n:nation)"
    "<-[:SUPP_NATION]-(s) WITH n, collect(s) AS members UNWIND members "
    "AS m RETURN n, m — the aggregate-then-explode horizon compiles to "
    "collect_list + explode with no extra shuffle; the roundtrip is the "
    "identity, which the flat-join oracle proves.",
)
def cypher_collect_unwind(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (n:nation)<-[:SUPP_NATION]-(s) "
        "WITH n, collect(s) AS members "
        "UNWIND members AS m "
        "RETURN n, m ORDER BY n, m",
    )


@register(
    "cypher_rel_var_counts",
    f"""
    {graph_cte()},
    c AS (SELECT r.dst AS p, COUNT(r.id) AS n_lines
          FROM rels r JOIN nodes n ON n.id = r.dst AND n.kind = 'part'
          WHERE r.type_name = 'CONTAINS'
          GROUP BY r.dst)
    SELECT p, n_lines FROM c WHERE n_lines > 3
    ORDER BY n_lines DESC, p LIMIT 20
    """,
    doc="Cypher relationship variables: MATCH (o:order)-[r:CONTAINS]->"
    "(p:part) WITH p, count(r) AS n_lines WHERE n_lines > 3 — the rel "
    "var binds the edge id as a column (one extra projected column in "
    "the same hop join, no extra shuffle), so rel-entity aggregates "
    "compile like node aggregates.",
)
def cypher_rel_var_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (o:order)-[r:CONTAINS]->(p:part) "
        "WITH p, count(r) AS n_lines "
        "WHERE n_lines > 3 "
        "RETURN p, n_lines ORDER BY n_lines DESC, p LIMIT 20",
    )


@register(
    "cypher_case_classify",
    f"""
    {graph_cte()},
    cust AS (SELECT r.src AS c, r.dst AS n, nn.name
             FROM rels r JOIN nodes nn ON nn.id = r.src AND nn.kind = 'customer'
             WHERE r.type_name = 'IN_NATION')
    SELECT n,
           CAST(SUM(CASE WHEN name LIKE '%1%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ones,
           COUNT(*) AS n_customers
    FROM cust GROUP BY n ORDER BY n
    """,
    doc="Cypher CASE expressions: MATCH (c:customer)-[:IN_NATION]->(n) "
    "RETURN n, sum(CASE WHEN c.name CONTAINS '1' THEN 1 ELSE 0 END), "
    "count(*) — conditional aggregation (the Cypher q12 idiom) compiles "
    "to when/otherwise inside the same grouped aggregate; CASE also "
    "works as a plain projection item.",
)
def cypher_case_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer)-[:IN_NATION]->(n) "
        "RETURN n, sum(CASE WHEN c.name CONTAINS '1' THEN 1 ELSE 0 END) AS n_ones, "
        "count(*) AS n_customers ORDER BY n",
    )


@register(
    "cypher_set_tier",
    f"""
    {graph_cte()}
    SELECT r.src AS s, 'priority' AS tier, nn.name AS nation_name
    FROM rels r
    JOIN nodes nn ON nn.id = r.dst AND nn.kind = 'nation'
    JOIN nodes sn ON sn.id = r.src AND sn.kind = 'supplier'
    WHERE r.type_name = 'SUPP_NATION' AND nn.name LIKE 'NATION\\_1%' ESCAPE '\\'
    ORDER BY s
    """,
    doc="Cypher SET: MATCH (s:supplier)-[:SUPP_NATION]->(n) WHERE "
    "n.name STARTS WITH 'NATION_1' SET s.tier = 'priority' RETURN s, s.tier, "
    "n.name — property mutation on the matched rows, returned as the "
    "updated projection (the store-level upsert twin is P2 "
    "`mutation.upsert_properties`, `q:property_upsert_projection`).",
)
def cypher_set_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (s:supplier)-[:SUPP_NATION]->(n) "
        "WHERE n.name STARTS WITH 'NATION_1' "
        "SET s.tier = 'priority' "
        "RETURN s, s.tier AS tier, n.name AS nation_name ORDER BY s",
    )


@register(
    "graph_hyperball_reach",
    None,  # HLL estimates are engine-specific → rows-only; exactness at
    # small cardinality + the algorithm contract live in test_traversal
    doc="HyperBall (Boldi-Vigna) neighborhood function: |ball(v, 2)| for "
    "EVERY node via HLL-sketch propagation — r shuffles total for all "
    "sources, 2^lg_k bytes per node, vs |V| BFS runs; summarized as "
    "avg/max ball size per node kind. The scale path for closeness/"
    "harmonic centrality when per-source BFS is infeasible. Portable "
    "twins: bfs_2hop_reach (exact per-source ball, oracle-checked) and "
    "graph_harmonic_centrality (exact distances, oracle-checked); "
    "test_traversal pins HLL-vs-exact agreement at small cardinality.",
)
def graph_hyperball_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.traversal import hyperball

    nodes = derived_nodes(spark, sf_dir)
    rels = derived_rels(spark, sf_dir)
    balls = hyperball(rels, radius=2)
    return (
        balls.join(nodes.select(F.col("id").alias("node_id"), "kind"), "node_id")
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_nodes"),
            F.round(F.avg("ball_size"), 2).alias("avg_ball"),
            F.round(F.max("ball_size"), 2).alias("max_ball"),
        )
        .orderBy("kind")
    )


@register(
    "cypher_type_alternation",
    f"""
    {graph_cte()}
    SELECT r.dst AS n, COUNT(*) AS n_members
    FROM rels r JOIN nodes nn ON nn.id = r.dst AND nn.kind = 'nation'
    WHERE r.type_name IN ('IN_NATION', 'SUPP_NATION')
    GROUP BY r.dst ORDER BY n
    """,
    doc="Cypher relationship-type alternation: MATCH (m)-[:IN_NATION|"
    "SUPP_NATION]->(n:nation) RETURN n, count(m) — the [:A|B] union "
    "compiles to ONE IN-list filter on the relationship scan (a single "
    "store pass), not a plan union.",
)
def cypher_type_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (m)-[:IN_NATION|SUPP_NATION]->(n:nation) "
        "RETURN n, count(m) AS n_members ORDER BY n",
    )


@register(
    "graph_random_walks",
    f"""
    {graph_cte(nodes=False)},
    seeds AS (SELECT src AS walk_id FROM rels WHERE src <= 20 GROUP BY src),
    s0 AS (SELECT walk_id, walk_id AS node_id FROM seeds),
    n1 AS (SELECT s.walk_id, r.dst AS cand,
                  md5('7|1|' || CAST(s.node_id AS VARCHAR) || '|' ||
                      CAST(r.dst AS VARCHAR)) AS h
           FROM s0 s JOIN rels r ON r.src = s.node_id),
    s1 AS (SELECT walk_id, cand AS node_id FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY walk_id
                        ORDER BY h, cand) AS rn FROM n1) WHERE rn = 1),
    n2 AS (SELECT s.walk_id, r.dst AS cand,
                  md5('7|2|' || CAST(s.node_id AS VARCHAR) || '|' ||
                      CAST(r.dst AS VARCHAR)) AS h
           FROM s1 s JOIN rels r ON r.src = s.node_id),
    s2 AS (SELECT walk_id, cand AS node_id FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY walk_id
                        ORDER BY h, cand) AS rn FROM n2) WHERE rn = 1),
    n3 AS (SELECT s.walk_id, r.dst AS cand,
                  md5('7|3|' || CAST(s.node_id AS VARCHAR) || '|' ||
                      CAST(r.dst AS VARCHAR)) AS h
           FROM s2 s JOIN rels r ON r.src = s.node_id),
    s3 AS (SELECT walk_id, cand AS node_id FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY walk_id
                        ORDER BY h, cand) AS rn FROM n3) WHERE rn = 1)
    SELECT walk_id, 0 AS step, node_id FROM s0
    UNION ALL SELECT walk_id, 1, node_id FROM s1
    UNION ALL SELECT walk_id, 2, node_id FROM s2
    UNION ALL SELECT walk_id, 3, node_id FROM s3
    ORDER BY walk_id, step
    """,
    doc="Deterministic random walks (node2vec corpus generator): "
    "keyed-hash neighbor choice (argmin md5(seed|step|cur|next)) — "
    "reproducible under retries, one frontier join + per-walk argmin "
    "window per step. Oracle unrolls the 3-step walk as CTEs.",
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.traversal import random_walks

    rels = derived_rels(spark, sf_dir)
    seeds = rels.filter(F.col("src") <= 20).select(F.col("src").alias("seed")).distinct()
    return random_walks(rels, seeds, length=3, seed=7).select(
        "walk_id", F.col("step").cast("int").alias("step"), "node_id"
    ).orderBy("walk_id", "step")


@register(
    "txlog_as_of_read",
    """
    WITH writes AS (
      SELECT CAST(c_custkey AS BIGINT) AS owner_id, 0 AS key_id,
             CAST(FLOOR(c_acctbal) AS BIGINT) AS value_long,
             CAST(-1 AS BIGINT) AS tx_id
      FROM customer
      UNION ALL
      SELECT CAST(o_custkey AS BIGINT), CAST(o_orderkey % 3 AS INT),
             CAST(FLOOR(o_totalprice) AS BIGINT), CAST(o_orderkey AS BIGINT)
      FROM orders
      WHERE o_orderkey <= 10000
    ),
    ranked AS (
      SELECT owner_id, key_id, value_long,
             ROW_NUMBER() OVER (PARTITION BY owner_id, key_id
                                ORDER BY tx_id DESC) AS rk
      FROM writes
    )
    SELECT owner_id, CAST(key_id AS INT) AS key_id, value_long
    FROM ranked WHERE rk = 1 AND owner_id <= 300
    ORDER BY owner_id, key_id
    """,
    doc="Time-travel read over the tx log: the property state AS OF "
    "tx 10000 — replay stops at the requested tx id, the temporal twin "
    "of scd2_as_of for the OLTP store (S9 range extract feeding S10 "
    "bounded replay). Oracle = windowed LWW over the tx-id-filtered "
    "writes.",
)
def txlog_as_of_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.derive import _memo
    from ..sources.txlog import (
        base_graph_from_customers,
        export_range,
        replay,
        txlog_from_orders,
    )

    base = base_graph_from_customers(spark, sf_dir)
    log = _memo(spark, sf_dir, "txlog_orders", lambda: txlog_from_orders(spark, sf_dir))
    as_of = replay(base, export_range(log, 0, 10_000))
    return (
        as_of.properties.filter(F.col("owner_id") <= 300)
        .select("owner_id", F.col("key_id").cast("int").alias("key_id"), "value_long")
        .orderBy("owner_id", "key_id")
    )


@register(
    "cypher_exists_inactive",
    f"""
    {graph_cte()}
    SELECT r.dst AS n, COUNT(*) AS n_inactive
    FROM rels r
    JOIN nodes c ON c.id = r.src AND c.kind = 'customer'
    WHERE r.type_name = 'IN_NATION'
      AND NOT EXISTS (SELECT 1 FROM rels p
                      WHERE p.type_name = 'PLACED' AND p.src = r.src)
    GROUP BY r.dst ORDER BY n
    """,
    doc="Cypher pattern predicate: MATCH (c:customer)-[:IN_NATION]->(n) "
    "WHERE NOT EXISTS((c)-[:PLACED]->()) RETURN n, count(c) — customers "
    "who never ordered, per nation (the Q22 shape in Cypher). "
    "[NOT] EXISTS compiles to a left-semi/anti join against the typed "
    "edge endpoints — a set-membership join, never a per-row subquery.",
)
def cypher_exists_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer)-[:IN_NATION]->(n) "
        "WHERE NOT EXISTS((c)-[:PLACED]->()) "
        "RETURN n, count(c) AS n_inactive ORDER BY n",
    )


@register(
    "graph_schema_summary",
    f"""
    {graph_cte()}
    SELECT sk.kind AS src_kind, r.type_name, dk.kind AS dst_kind,
           COUNT(*) AS n_edges,
           CAST(COUNT(DISTINCT r.src) AS BIGINT) AS n_src_nodes,
           CAST(COUNT(DISTINCT r.dst) AS BIGINT) AS n_dst_nodes
    FROM rels r
    JOIN nodes sk ON sk.id = r.src
    JOIN nodes dk ON dk.id = r.dst
    GROUP BY sk.kind, r.type_name, dk.kind
    ORDER BY src_kind, type_name, dst_kind
    """,
    doc="Schema introspection (the reference's db.schema() analog): the "
    "kind-level quotient graph — one super-edge per (src kind, rel "
    "type, dst kind) with edge and endpoint cardinalities. Two "
    "id-keyed joins + one small groupBy; the planner statistics a "
    "query optimizer and a new user both start from.",
)
def graph_schema_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = derived_nodes(spark, sf_dir)
    rels = derived_rels(spark, sf_dir)
    sk = nodes.select(F.col("id").alias("src"), F.col("kind").alias("src_kind"))
    dk = nodes.select(F.col("id").alias("dst"), F.col("kind").alias("dst_kind"))
    return (
        rels.join(sk, "src")
        .join(dk, "dst")
        .groupBy("src_kind", "type_name", "dst_kind")
        .agg(
            F.count("*").alias("n_edges"),
            F.count_distinct("src").alias("n_src_nodes"),
            F.count_distinct("dst").alias("n_dst_nodes"),
        )
        .orderBy("src_kind", "type_name", "dst_kind")
    )


@register(
    "graph_personalized_pagerank",
    None,  # float iteration (order-dependent sums) → rows-only; mass
    # conservation + seed concentration pinned in test_traversal
    doc="Personalized PageRank from the first 10 part nodes: teleport "
    "and dangling mass restart at the SEEDS, so ranks measure proximity "
    "to them (related-entities / recommendation primitive). Closed-plan "
    "iteration — one shuffle per round, broadcast 1-row scalars, no "
    "driver action between rounds. Top-20 ranked nodes.",
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.traversal import personalized_pagerank

    rels = derived_rels(spark, sf_dir)
    seeds = (
        derived_nodes(spark, sf_dir)
        .filter(F.col("kind") == "part")
        .orderBy("id")
        .limit(10)
        .select(F.col("id").alias("seed"))
    )
    return (
        personalized_pagerank(rels, seeds, iterations=8)
        .orderBy(F.desc("rank"), "node_id")
        .limit(20)
    )


@register(
    "graph_node_similarity",
    f"""
    {graph_cte(nodes=False)},
    e AS (SELECT DISTINCT src, dst FROM rels WHERE type_name = 'CONTAINS'),
    keep AS (SELECT dst FROM e GROUP BY dst HAVING COUNT(*) <= 40),
    ef AS (SELECT e.src, e.dst FROM e JOIN keep USING (dst)),
    deg AS (SELECT src, COUNT(*) AS deg FROM ef GROUP BY src),
    pairs AS (
      SELECT a.src AS node_a, b.src AS node_b, COUNT(*) AS n_shared
      FROM ef a JOIN ef b ON a.dst = b.dst AND a.src < b.src
      GROUP BY 1, 2)
    SELECT p.node_a, p.node_b, p.n_shared,
           da.deg AS deg_a, db.deg AS deg_b,
           CAST(p.n_shared AS DOUBLE) / (da.deg + db.deg - p.n_shared)
             AS jaccard
    FROM pairs p
    JOIN deg da ON da.src = p.node_a
    JOIN deg db ON db.src = p.node_b
    ORDER BY jaccard DESC, node_a, node_b LIMIT 20
    """,
    doc="Node-similarity (neighborhood Jaccard) top-20 order pairs over "
    "CONTAINS out-neighborhoods — the link-prediction / recommendation "
    "primitive beside parts_copurchase_top20. Inverted-index self-join "
    "keyed on the shared neighbor; hub neighbors above degree 40 are "
    "dropped first (stop-word cut) and degrees recomputed on the SAME "
    "filtered edges so the score stays exact on the filtered graph. "
    "jaccard is one IEEE division of exact BIGINTs; total order via "
    "(jaccard desc, ids) makes the LIMIT deterministic.",
)
def graph_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import neighborhood_jaccard

    edges = derived_rels(spark, sf_dir).filter(F.col("type_name") == "CONTAINS")
    return neighborhood_jaccard(edges, max_neighbor_degree=40, top_k=20)


_TRADE_EDGES_SQL = """
    flow AS (
      SELECT c.c_nationkey AS src_n, s.s_nationkey AS dst_n,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2),
    edges AS (
      SELECT CAST(f.src_n AS BIGINT) AS src, CAST(f.dst_n AS BIGINT) AS dst
      FROM flow f
      LEFT JOIN flow r ON r.src_n = f.dst_n AND r.dst_n = f.src_n
      WHERE f.rev * 20 > COALESCE(r.rev, 0) * 21),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT w.src, e.dst FROM reach w
      JOIN edges e ON w.dst = e.src AND w.src <> e.dst),
    -- NOTE: inside WITH RECURSIVE DuckDB gives a top-level UNION
    -- recursive-union semantics (no global dedup for a non-self-
    -- referencing CTE), so spell the dedup as DISTINCT over UNION ALL
    nodes_n AS (SELECT DISTINCT node_id FROM
                (SELECT src AS node_id FROM edges
                 UNION ALL SELECT dst FROM edges)),
    mutual AS (
      SELECT f.src AS node_id, f.dst AS peer
      FROM reach f JOIN reach b ON f.src = b.dst AND f.dst = b.src),
    peer_min AS (SELECT node_id, MIN(peer) AS pm FROM mutual GROUP BY node_id),
    scc AS (SELECT n.node_id,
                   LEAST(n.node_id, COALESCE(p.pm, n.node_id)) AS scc_id
            FROM nodes_n n LEFT JOIN peer_min p USING (node_id))
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-trade tournament: edge A→B iff customer-nation-A revenue
    sourced from supplier-nation-B exceeds the reverse flow by >5%
    (rev_ab * 20 > rev_ba * 21 — exact DECIMAL integer comparison, no
    float margin). The heavy work is one lineitem-sized aggregation; the
    digraph itself is ≤ nations² edges."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    flow = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src_n"),
            F.col("s_nationkey").alias("dst_n"),
        )
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"))
    )
    rev = flow.select(
        F.col("src_n").alias("r_src"),
        F.col("dst_n").alias("r_dst"),
        F.col("rev").alias("rev_rev"),
    )
    return (
        flow.join(
            rev,
            (F.col("r_src") == F.col("dst_n")) & (F.col("r_dst") == F.col("src_n")),
            "left",
        )
        .filter(
            F.col("rev") * 20
            > F.coalesce(F.col("rev_rev"), F.lit(0).cast("decimal(18,2)")) * 21
        )
        .select(
            F.col("src_n").cast("long").alias("src"),
            F.col("dst_n").cast("long").alias("dst"),
        )
    )


@register(
    "graph_nation_trade_scc",
    f"""
    WITH RECURSIVE
    {_TRADE_EDGES_SQL},
    sizes AS (SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY scc_id)
    SELECT s.node_id AS nation_id, s.scc_id, z.scc_size
    FROM scc s JOIN sizes z USING (scc_id)
    ORDER BY nation_id
    """,
    doc="Strongly connected components of the nation-trade tournament "
    "(edge A→B iff A buys >5% more from B than B from A, exact DECIMAL "
    "margin). Spark: community.strongly_connected — path-doubling "
    "closure (O(log d) self-join rounds, each round checkpointed) "
    "intersected with its reverse; scc_id = min mutual peer. Oracle: "
    "recursive-CTE closure with the same mutual/min reduction. The "
    "lineitem-scale aggregation is the distributed cost; the closure "
    "runs on the condensed ≤n² digraph (SCALE.md trade-off: for "
    "billion-node SCC you peel FW-BW reachability from pivots instead).",
)
def graph_nation_trade_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import strongly_connected

    edges = _trade_edges(spark, sf_dir)
    scc = strongly_connected(edges)
    sizes = scc.groupBy("scc_id").agg(F.count("*").alias("scc_size"))
    return (
        scc.join(sizes, "scc_id")
        .select(F.col("node_id").alias("nation_id"), "scc_id", "scc_size")
        .orderBy("nation_id")
    )


@register(
    "graph_trade_condensation_layers",
    f"""
    WITH RECURSIVE
    {_TRADE_EDGES_SQL},
    cond AS (SELECT DISTINCT sa.scc_id AS src, sb.scc_id AS dst
             FROM edges e
             JOIN scc sa ON e.src = sa.node_id
             JOIN scc sb ON e.dst = sb.node_id
             WHERE sa.scc_id <> sb.scc_id),
    walk AS (
      SELECT src, dst, 1 AS len FROM cond
      UNION
      SELECT w.src, c.dst, w.len + 1 FROM walk w JOIN cond c ON w.dst = c.src),
    layer AS (
      SELECT s.scc_id, CAST(COALESCE(MAX(w.len), 0) AS INT) AS layer
      FROM (SELECT DISTINCT scc_id FROM scc) s
      LEFT JOIN walk w ON w.dst = s.scc_id
      GROUP BY s.scc_id),
    sizes AS (SELECT scc_id, COUNT(*) AS n_nations FROM scc GROUP BY scc_id)
    SELECT l.scc_id, l.layer, z.n_nations
    FROM layer l JOIN sizes z USING (scc_id)
    ORDER BY scc_id
    """,
    doc="Condensation (DAG-of-SCCs) longest-path layering of the "
    "nation-trade tournament: layer(C) = longest condensation path "
    "ending at C — the topological stratification that orders trade "
    "blocs upstream→downstream. Spark: community.condensation_layers "
    "(max-plus path doubling, log-rounds); oracle: recursive-CTE "
    "longest path on the same condensation (terminates — DAG by "
    "construction).",
)
def graph_trade_condensation_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import condensation_layers, strongly_connected
    from ..operators.superstep import cut

    edges, _ = cut(_trade_edges(spark, sf_dir))
    scc = strongly_connected(edges)
    layers = condensation_layers(edges, scc)
    sizes = scc.groupBy("scc_id").agg(F.count("*").alias("n_nations"))
    return layers.join(sizes, "scc_id").select(
        "scc_id", "layer", "n_nations"
    ).orderBy("scc_id")


@register(
    "cypher_union_dedup",
    f"""
    {graph_cte()}
    SELECT c.name AS name
    FROM rels e
    JOIN nodes c ON c.id = e.src AND c.kind = 'customer'
    JOIN nodes n ON n.id = e.dst AND n.kind = 'nation'
    WHERE e.type_name = 'IN_NATION' AND n.name = 'NATION_3'
    UNION
    SELECT c.name AS name
    FROM rels e
    JOIN nodes c ON c.id = e.src AND c.kind = 'customer'
    WHERE e.type_name = 'PLACED' AND c.name < 'Customer#000000100'
    ORDER BY name
    """,
    doc="Cypher UNION (pattern.cypher_query): two complete MATCH/"
    "RETURN queries with the same return columns combined with set "
    "semantics — customers in NATION_3 ∪ low-key customers with "
    "orders; the overlap (low-key NATION_3 customers who ordered) "
    "proves the dedup. Compiles to unionByName + one distinct in a "
    "single Catalyst plan; UNION ALL is the same plan minus the "
    "distinct, and mixing the two is rejected as in Neo4j.",
)
def cypher_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) "
        "WHERE n.name = 'NATION_3' RETURN c.name AS name "
        "UNION "
        "MATCH (c:customer)-[:PLACED]->(o) "
        "WHERE c.name < 'Customer#000000100' RETURN c.name AS name",
    ).orderBy("name")


@register(
    "parts_brand_modularity",
    f"""
    WITH {copurchase_cte()},
    m AS (SELECT COUNT(*) AS m FROM e),
    com AS (SELECT p_partkey AS node_id, p_brand AS community FROM part),
    intra AS (SELECT ca.community, COUNT(*) AS e_c
              FROM e JOIN com ca ON e.a = ca.node_id
              JOIN com cb ON e.b = cb.node_id
              WHERE ca.community = cb.community GROUP BY 1),
    dsum AS (SELECT c.community, COUNT(*) AS n_nodes,
                    SUM(COALESCE(d.deg, 0)) AS d_c
             FROM com c LEFT JOIN deg d USING (node_id) GROUP BY 1),
    per AS (SELECT s.community, s.n_nodes, COALESCE(i.e_c, 0) AS e_c,
                   s.d_c, 4 * m.m * COALESCE(i.e_c, 0) - s.d_c * s.d_c
                     AS q_num, m.m AS m
            FROM dsum s LEFT JOIN intra i USING (community), m),
    tot AS (SELECT SUM(q_num) AS q_total_num FROM per)
    SELECT community, n_nodes, e_c, CAST(d_c AS BIGINT) AS d_c,
           CAST(q_num AS BIGINT) AS q_num,
           CAST(q_num AS DOUBLE) / (4.0 * m * m) AS q_contrib,
           CAST(q_total_num AS DOUBLE) / (4.0 * m * m) AS q_total
    FROM per, tot ORDER BY community
    """,
    doc="Exact Newman modularity of the brand partition over the "
    "part co-purchase graph (community.partition_modularity): "
    "Q = Σ_c (4·m·e_c − d_c²)/(4m²) — per-community EXACT BIGINT "
    "numerators over a common denominator, so the score involves no "
    "float accumulation (the community-quality metric Louvain "
    "optimizes, rendered engine-exact). Degrees: one shuffle; "
    "intra-community edges: equi-joins on the endpoints; m: 1-row "
    "broadcast.",
)
def parts_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import partition_modularity

    e = copurchase(spark, sf_dir).select("a", "b")
    com = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node_id"), F.col("p_brand").alias("community")
    )
    return partition_modularity(e, com).orderBy("community")


@register(
    "cypher_merge_nodes",
    f"""
    {graph_cte(rels=False)},
    cand(kind, name) AS (VALUES
      ('customer', 'Customer#000000007'),
      ('customer', 'Customer#000000014'),
      ('customer', 'Customer#000099991'),
      ('customer', 'Customer#000099992')),
    matched AS (
      SELECT n.id, n.kind, n.name, TRUE AS in_use
      FROM nodes n JOIN cand c ON n.kind = c.kind AND n.name = c.name),
    created AS (
      SELECT CAST(6000000 + ROW_NUMBER() OVER (ORDER BY c.kind, c.name)
                  AS BIGINT) AS id,
             c.kind, c.name, TRUE AS in_use
      FROM cand c LEFT JOIN nodes n ON n.kind = c.kind AND n.name = c.name
      WHERE n.id IS NULL)
    SELECT id, kind, name, in_use FROM matched
    UNION ALL
    SELECT id, kind, name, in_use FROM created
    ORDER BY name
    """,
    doc="Cypher MERGE (mutation.merge_nodes): get-or-create four "
    "customers by (kind, name) — two exist (Customer#...007 is "
    "in_use=false in the derivation, so ON MATCH SET in_use=true "
    "visibly flips it), two are new (ON CREATE + dense ids above the "
    "6000000 high-water mark via the ALLOCATE_IDS shadow). One "
    "broadcast left-semi + left-anti pair on the merge key — the "
    "lock-free batch rendering of the reference's getOrCreate-under-"
    "lock idiom (LockableNode.java setProperty after acquire).",
)
def cypher_merge_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import mutation

    cand = spark.createDataFrame(
        [
            ("customer", "Customer#000000007"),
            ("customer", "Customer#000000014"),
            ("customer", "Customer#000099991"),
            ("customer", "Customer#000099992"),
        ],
        "kind string, name string",
    )
    merged = mutation.merge_nodes(
        derived_nodes(spark, sf_dir),
        cand,
        match_keys=["kind", "name"],
        high_water=6000000,
        on_match={"in_use": True},
        on_create={"in_use": True},
    )
    return (
        merged.join(cand, ["kind", "name"])
        .select("id", "kind", "name", "in_use")
        .orderBy("name")
    )


@register(
    "cypher_merge_rels",
    f"""
    {graph_cte(nodes=False)},
    cand AS (
      SELECT CAST(c_custkey AS BIGINT) AS src,
             CAST(c_nationkey + 4000000 AS BIGINT) AS dst,
             'IN_NATION' AS type_name, 3 AS type_id
      FROM customer WHERE c_custkey IN (1, 2)
      UNION ALL
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'FOLLOWS', 6),
        (CAST(2 AS BIGINT), CAST(3 AS BIGINT), 'FOLLOWS', 6))
        v(src, dst, type_name, type_id)),
    matched AS (
      SELECT r.id, c.src, c.dst, r.type_id, c.type_name,
             TRUE AS was_matched
      FROM rels r JOIN cand c
        ON r.src = c.src AND r.dst = c.dst AND r.type_name = c.type_name),
    created AS (
      SELECT CAST(3000000000 + ROW_NUMBER() OVER (ORDER BY c.src, c.dst,
                  c.type_name) AS BIGINT) AS id,
             c.src, c.dst, c.type_id, c.type_name, FALSE AS was_matched
      FROM cand c LEFT JOIN rels r
        ON r.src = c.src AND r.dst = c.dst AND r.type_name = c.type_name
      WHERE r.id IS NULL)
    SELECT id, src, dst, type_id, type_name, was_matched FROM matched
    UNION ALL
    SELECT id, src, dst, type_id, type_name, was_matched FROM created
    ORDER BY src, dst, type_name
    """,
    doc="Cypher MERGE over relationships (mutation.merge_rels): "
    "get-or-create four edges by (src, dst, type_name) — two IN_NATION "
    "edges exist (ON MATCH SET flags was_matched=true, original ids "
    "kept: no duplicate edge creation), two FOLLOWS edges are new "
    "(ON CREATE + dense ids above the 3e9 relationship high-water "
    "mark). The reference creates relationships idempotently in its HA "
    "workloads (ha/src/test/java/slavetest/CommonJobs.java:102-140, "
    "getOrCreate under the lock manager); the batch rendering is one "
    "left-semi + left-anti join pair on the merge key with NO forced "
    "broadcast — edge batches can be fact-sized, AQE decides.",
)
def cypher_merge_rels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators import mutation

    existing = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").isin(1, 2))
        .select(
            F.col("c_custkey").cast("long").alias("src"),
            (F.col("c_nationkey") + 4000000).cast("long").alias("dst"),
            F.lit("IN_NATION").alias("type_name"),
            F.lit(3).alias("type_id"),
        )
    )
    new = spark.createDataFrame(
        [(1, 2, "FOLLOWS", 6), (2, 3, "FOLLOWS", 6)],
        "src long, dst long, type_name string, type_id int",
    )
    cand = existing.unionByName(new)
    rels0 = derived_rels(spark, sf_dir).withColumn("was_matched", F.lit(False))
    merged = mutation.merge_rels(
        rels0,
        cand,
        high_water=3_000_000_000,
        on_match={"was_matched": True},
        on_create={"was_matched": False},
    )
    return (
        merged.join(cand.select("src", "dst", "type_name"), ["src", "dst", "type_name"])
        .select("id", "src", "dst", "type_id", "type_name", "was_matched")
        .orderBy("src", "dst", "type_name")
    )


@register(
    "graph_jsonl_roundtrip",
    f"""
    {graph_cte(rels=False)}
    SELECT id, kind, in_use, name FROM nodes ORDER BY id
    """,
    doc="Portable store copy round-trip (sink.export_jsonl / "
    "import_jsonl): the full node store written as JSON-lines and read "
    "back with an EXPLICIT schema (no inference pass), hash-matched "
    "against the oracle's node derivation — proving the interchange "
    "path is lossless for long/bool/string payloads. The stage dir is "
    "named by `catalog._temp` from the tables' realpaths, sizes and "
    "mtimes; it is written only when absent (idempotent re-runs), and "
    "a rewritten fixture gets a fresh one. The reference's whole-file store streaming "
    "(Master.copyStore / BackupService.doFullBackup:85-180) in a "
    "format any downstream tool can consume.",
)
def graph_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..catalog import _parquet_files, _temp
    from ..sources.sink import export_jsonl, import_jsonl

    # keyed on the tables' identity, so a regenerated fixture at the
    # same path invalidates the staged export
    out = _temp("jsonl_nodes", *_parquet_files(sf_dir))
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        export_jsonl(derived_nodes(spark, sf_dir), out)
    back = import_jsonl(
        spark, out, "id long, kind string, in_use boolean, name string"
    )
    return back.select("id", "kind", "in_use", "name").orderBy("id")


def _truss_cte(rounds: int) -> str:
    """CTE-list text: ``rounds`` unrolled 4-truss peel rounds over the
    co-purchase ``e``. e{r} holds the edges left after r rounds and
    sup{r} the triangle support of each of them; round r + 1 keeps the
    edges of support >= 2."""
    ctes = "e0 AS (SELECT a, b FROM e)"
    for r in range(rounds + 1):
        if r:
            ctes += f",\n    e{r} AS (SELECT a, b FROM sup{r - 1} WHERE support >= 2)"
        ctes += f""",
    adj{r} AS (SELECT a AS u, b AS v FROM e{r} UNION ALL SELECT b, a FROM e{r}),
    tri{r} AS (SELECT e.a, e.b, COUNT(*) AS n FROM e{r} e
               JOIN adj{r} x ON x.u = e.a
               JOIN adj{r} y ON y.u = e.b AND y.v = x.v
               GROUP BY e.a, e.b),
    sup{r} AS (SELECT e.a, e.b, COALESCE(t.n, 0) AS support FROM e{r} e
               LEFT JOIN tri{r} t ON t.a = e.a AND t.b = e.b)"""
    return ctes


@register(
    "parts_ktruss_bounded",
    bench=True,  # iterative wedge-join peeling in the headline set
    oracle=f"""
    WITH {copurchase_cte(_SLICE)},
    {_truss_cte(2)}
    SELECT a AS part_a, b AS part_b, support FROM sup2
    ORDER BY part_a, part_b
    """,
    doc="4-truss extraction (community.ktruss_peel, 2 bounded peel "
    "rounds) over the co-purchase graph of a fixed 500-part slice "
    "(density grows with scale on a fixed node set, so the truss is "
    "non-trivial at every sf): edges with triangle support < 2 peel "
    "away, "
    "surviving edges report support recomputed on the survivor graph "
    "— the dense-subgraph mining primitive under community detection. "
    "Each round = one wedge join shuffled on the shared neighbor; "
    "bounded rounds make the oracle an exact 2-round unroll (fixpoint "
    "= run until a round deletes nothing).",
)
def parts_ktruss_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import ktruss_peel

    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    return (
        ktruss_peel(e, k=4, rounds=2)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "support",
        )
        .orderBy("part_a", "part_b")
    )


@register(
    "cypher_where_or",
    f"""
    {graph_cte()}
    SELECT c.name AS name, n.name AS nation_name
    FROM rels e
    JOIN nodes c ON c.id = e.src AND c.kind = 'customer'
    JOIN nodes n ON n.id = e.dst AND n.kind = 'nation'
    WHERE e.type_name = 'IN_NATION'
      AND (n.name = 'NATION_7'
           OR (c.name >= 'Customer#000000190'
               AND c.name < 'Customer#000000200'))
    ORDER BY name
    """,
    doc="Cypher WHERE disjunction (pattern.cypher_query): "
    "MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE n.name = ... OR "
    "(c.name >= ... AND c.name < ...) — top-level OR of conjunction "
    "groups compiled to ONE Column predicate, so Catalyst pushes the "
    "whole disjunction into the pattern joins rather than unioning two "
    "subplans.",
)
def cypher_where_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) "
        "WHERE n.name = 'NATION_7' "
        "OR c.name >= 'Customer#000000190' AND c.name < 'Customer#000000200' "
        "RETURN c.name AS name, n.name AS nation_name ORDER BY name",
    )


@register(
    "cypher_with_topk_expand",
    f"""
    {graph_cte()},
    placed AS (SELECT src, dst FROM rels WHERE type_name = 'PLACED'),
    top3 AS (
      SELECT src AS c, COUNT(*) AS n_orders
      FROM placed GROUP BY src
      ORDER BY n_orders DESC, c LIMIT 3),
    innat AS (SELECT src, dst FROM rels WHERE type_name = 'IN_NATION')
    SELECT t.c AS customer_id, t.n_orders, n.name AS nation_name
    FROM top3 t
    JOIN innat e ON e.src = t.c
    JOIN nodes n ON n.id = e.dst AND n.kind = 'nation'
    ORDER BY customer_id
    """,
    doc="Cypher mid-pipeline top-k (pattern.cypher_query): MATCH "
    "(c:customer)-[:PLACED]->(o) WITH c, count(*) AS n_orders "
    "ORDER BY n_orders DESC, c LIMIT 3 MATCH (c)-[:IN_NATION]->(n) "
    "RETURN … — the WITH horizon aggregates, the attached ORDER "
    "BY/LIMIT selects top-k INSIDE the pipeline (TakeOrderedAndProject "
    "— no global sort), and the following MATCH expands only the 3 "
    "survivors. The most common analytic Cypher shape (top-k then "
    "expand) as one Catalyst plan.",
)
def cypher_with_topk_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cypher(
        spark,
        sf_dir,
        "MATCH (c:customer)-[:PLACED]->(o) "
        "WITH c, count(*) AS n_orders ORDER BY n_orders DESC, c LIMIT 3 "
        "MATCH (c)-[:IN_NATION]->(n:nation) "
        "RETURN c AS customer_id, n_orders, n.name AS nation_name "
        "ORDER BY customer_id",
    )


@register(
    "parts_frequent_triples",
    f"""
    WITH {copurchase_cte(_SLICE)},
    t AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
             COUNT(*) AS support
      FROM li a
      JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN li c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
      GROUP BY 1, 2, 3)
    SELECT pa, pb, pc, support FROM t
    ORDER BY support DESC, pa, pb, pc LIMIT 20
    """,
    doc="Frequent 3-itemsets (A-priori family): top-20 part triples "
    "co-occurring in orders within the fixed 500-part slice — the "
    "market-basket step above parts_copurchase_top20. Two self-joins "
    "keyed on the order (ordered keys a<b<c kill permutations); "
    "per-order blow-up is C(k,3) ≤ 35 at k≤7 lines, and at scale the "
    "A-priori prune (join only pairs above pair-support) bounds the "
    "candidate space — documented, not needed at fixture k.",
)
def parts_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = basket(spark, sf_dir, _SLICE)
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    c = li.select("l_orderkey", F.col("l_partkey").alias("pc"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .join(c, "l_orderkey")
        .filter(F.col("pb") < F.col("pc"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count("*").alias("support"))
        .orderBy(F.desc("support"), "pa", "pb", "pc")
        .limit(20)
    )


def _louvain_cte(rounds: int) -> str:
    """CTE-list text: ``rounds`` unrolled Louvain move rounds over the
    co-purchase ``adj`` / ``deg``, from the singleton start com0 to
    com{rounds}. Round r scores each (node, candidate community) pair in
    best{r}, ranked by ``rk``. A no-change round is idempotent, so
    unrolling a FIXED number of rounds equals the Spark loop even when
    it early-exits."""
    ctes = """m AS (SELECT COUNT(*) AS m FROM e),
    com0 AS MATERIALIZED (SELECT node_id, node_id AS community FROM deg)"""
    for r in range(rounds):
        ctes += f""",
    nbr{r} AS MATERIALIZED (SELECT a.u AS node_id, c.community AS cand,
                      COUNT(*) AS k_in
               FROM adj a JOIN com{r} c ON c.node_id = a.v GROUP BY 1, 2),
    own{r} AS (SELECT node_id, community AS cand FROM com{r}),
    cands{r} AS (
      SELECT COALESCE(n.node_id, o.node_id) AS node_id,
             COALESCE(n.cand, o.cand) AS cand,
             COALESCE(n.k_in, 0) AS k_in
      FROM nbr{r} n FULL OUTER JOIN own{r} o
        ON n.node_id = o.node_id AND n.cand = o.cand),
    dtot{r} AS (SELECT c.community AS cand, SUM(COALESCE(d.deg, 0)) AS d_tot
                FROM com{r} c LEFT JOIN deg d USING (node_id) GROUP BY 1),
    scored{r} AS (
      SELECT x.node_id, x.cand, c.community,
             2 * m.m * x.k_in
               - (CASE WHEN x.cand = c.community
                       THEN t.d_tot - d.deg ELSE t.d_tot END) * d.deg
               AS score_num
      FROM cands{r} x
      JOIN com{r} c USING (node_id)
      JOIN dtot{r} t ON t.cand = x.cand
      JOIN deg d ON d.node_id = x.node_id, m),
    best{r} AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY node_id
                                   ORDER BY score_num DESC, cand) AS rk
      FROM scored{r}),
    com{r + 1} AS MATERIALIZED (SELECT node_id, cand AS community
                   FROM best{r} WHERE rk = 1)"""
    return ctes


@register(
    "graph_louvain_move_round",
    f"""
    WITH {copurchase_cte(_SLICE)},
    {_louvain_cte(1)}
    SELECT node_id, community AS old_com, cand AS new_com,
           CAST(score_num AS BIGINT) AS score_num
    FROM best0 WHERE rk = 1 ORDER BY node_id
    """,
    doc="One exact Louvain phase-1 move round "
    "(community.louvain_move_round) over the 500-part co-purchase "
    "slice from the singleton start: each node's best community by "
    "modularity gain, decided by the EXACT BIGINT score "
    "f(C) = 2m·k_in(C) − Σtot′(C)·k_i (Σtot′ drops the node itself "
    "for its current community) — the float-free rendering of the "
    "Louvain gain argmax, so the oracle replays the round verbatim. "
    "Iterating rounds + condensation = full Louvain; the exact round "
    "is the verifiable unit, like ktruss_peel's bounded rounds.",
)
def graph_louvain_move_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import louvain_move_round

    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    return louvain_move_round(e).orderBy("node_id")


@register(
    "graph_louvain_communities",
    f"""
    WITH {copurchase_cte(_SLICE)},
    {_louvain_cte(4)}
    SELECT node_id, community FROM com4 ORDER BY node_id
    """,
    doc="Louvain phase-1 to bounded fixpoint "
    "(community.louvain_communities, 4 exact move rounds) over the "
    "500-part co-purchase slice: the full community assignment, "
    "hash-matched against a PROGRAMMATICALLY UNROLLED 4-round oracle — "
    "possible only because each round's gain argmax is exact BIGINT "
    "arithmetic and a no-change round is idempotent (early exit ≡ "
    "running the remaining rounds). Clique-recovery and "
    "modularity-improvement pinned in tests.",
)
def graph_louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import louvain_communities

    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    return louvain_communities(e, max_rounds=4).orderBy("node_id")


@register(
    "graph_betweenness_sampled",
    None,  # float σ ratios have no DuckDB twin → rows-only; values are
    # pinned vs a pure-python Brandes reference in test_community
    doc="Sampled Brandes betweenness over the 500-part co-purchase "
    "slice (community.betweenness_sampled): 8 lowest-id parts as "
    "sources, all advancing TOGETHER — each BFS level and each "
    "backward dependency level is ONE join keyed on (source, node), "
    "the batched-multi-source form that amortizes scheduling at "
    "cluster scale. Top-20 nodes by accumulated dependency. The "
    "bridge-detection centrality beside harmonic/PageRank.",
)
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import betweenness_sampled

    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    sources = (
        e.select(F.col("a").alias("source"))
        .unionByName(e.select(F.col("b").alias("source")))
        .distinct()
        .orderBy("source")
        .limit(8)
    )
    return (
        betweenness_sampled(e, sources, max_depth=4)
        .orderBy(F.desc("bc"), "node_id")
        .limit(20)
    )


def _mis_cte(rounds: int) -> str:
    """CTE-list text: ``rounds`` unrolled Luby rounds over the
    co-purchase ``adj``, act{r} → win{r} / act{r + 1}, and ``won``, the
    winners of all rounds (md5 priorities make the randomized algorithm
    a pure function of the seed, so the oracle replays it; empty-active
    rounds are no-ops)."""
    ctes = """act0 AS MATERIALIZED (SELECT DISTINCT u AS node_id,
                    md5('0|' || CAST(u AS VARCHAR)) AS pri
             FROM adj)"""
    for r in range(rounds):
        ctes += f""",
    nmin{r} AS MATERIALIZED (SELECT a.u AS node_id, MIN(p.pri) AS min_nbr
                FROM adj a JOIN act{r} p ON p.node_id = a.v GROUP BY 1),
    win{r} AS MATERIALIZED (SELECT x.node_id FROM act{r} x
               LEFT JOIN nmin{r} n USING (node_id)
               WHERE n.min_nbr IS NULL OR x.pri < n.min_nbr),
    kill{r} AS MATERIALIZED (SELECT node_id FROM win{r}
                UNION
                SELECT a.v FROM adj a JOIN win{r} w ON w.node_id = a.u),
    act{r + 1} AS MATERIALIZED (SELECT x.node_id, x.pri FROM act{r} x
                   LEFT JOIN kill{r} k USING (node_id)
                   WHERE k.node_id IS NULL)"""
    won = " UNION ALL ".join(f"SELECT node_id FROM win{r}" for r in range(rounds))
    return f"{ctes},\n    won AS ({won})"


@register(
    "graph_mis_luby",
    f"""
    WITH {copurchase_cte(_SLICE)},
    {_mis_cte(8)}
    SELECT node_id FROM won ORDER BY node_id
    """,
    doc="Luby maximal independent set, deterministic "
    "(community.maximal_independent_set): md5(seed|node) priorities "
    "turn the randomized symmetry-breaker into a pure function of the "
    "seed, so the full 8-round loop hash-matches a programmatically "
    "unrolled oracle (empty rounds are no-ops — same idempotency "
    "contract as graph_louvain_communities). Independence and "
    "maximality asserted in tests; the distributed-coloring / "
    "scheduling primitive, and the dataflow shadow of coordinator "
    "election.",
)
def graph_mis_luby(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import maximal_independent_set

    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    return maximal_independent_set(e, seed=0, max_rounds=8).orderBy("node_id")


@register(
    "graph_hits_scores",
    f"""
    {graph_cte(nodes=False)},
    e AS MATERIALIZED (SELECT DISTINCT src, dst FROM rels),
    n AS MATERIALIZED (SELECT DISTINCT node_id FROM
         (SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e)),
    a1 AS (SELECT dst AS node_id, COUNT(*) AS auth FROM e GROUP BY 1),
    a1f AS MATERIALIZED (SELECT n.node_id, COALESCE(a1.auth, 0) AS auth
           FROM n LEFT JOIN a1 USING (node_id)),
    h1 AS (SELECT e.src AS node_id, SUM(a.auth) AS hub
           FROM e JOIN a1f a ON a.node_id = e.dst GROUP BY 1),
    h1f AS MATERIALIZED (SELECT n.node_id, COALESCE(h1.hub, 0) AS hub
           FROM n LEFT JOIN h1 USING (node_id)),
    a2 AS (SELECT e.dst AS node_id, SUM(h.hub) AS auth
           FROM e JOIN h1f h ON h.node_id = e.src GROUP BY 1),
    a2f AS MATERIALIZED (SELECT n.node_id, COALESCE(a2.auth, 0) AS auth
           FROM n LEFT JOIN a2 USING (node_id)),
    h2 AS (SELECT e.src AS node_id, SUM(a.auth) AS hub
           FROM e JOIN a2f a ON a.node_id = e.dst GROUP BY 1),
    h2f AS (SELECT n.node_id, COALESCE(h2.hub, 0) AS hub
            FROM n LEFT JOIN h2 USING (node_id))
    SELECT h.node_id, CAST(h.hub AS BIGINT) AS hub,
           CAST(a.auth AS BIGINT) AS auth
    FROM h2f h JOIN a2f a USING (node_id)
    ORDER BY hub DESC, node_id LIMIT 30
    """,
    doc="HITS hub/authority (community.hits_unnormalized, 2 exact "
    "iterations) over the directed derived graph: normalization is "
    "skipped so every score is an exact BIGINT path count (a₁ = "
    "in-degree, h₁ = Σ pointed-to authorities, …) — ranking is "
    "normalization-invariant, and the oracle replays the unrolled "
    "rounds. Top-30 hubs (customers fan out through orders to parts).",
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import hits_unnormalized

    e = derived_rels(spark, sf_dir).select("src", "dst")
    return (
        hits_unnormalized(e, iterations=2)
        .orderBy(F.desc("hub"), "node_id")
        .limit(30)
    )


@register(
    "graph_katz_truncated",
    f"""
    {graph_cte(nodes=False)},
    e AS MATERIALIZED (SELECT DISTINCT src, dst FROM rels),
    n AS MATERIALIZED (SELECT DISTINCT node_id FROM
         (SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e)),
    w1 AS MATERIALIZED (SELECT dst AS node_id, COUNT(*) AS c
                        FROM e GROUP BY 1),
    w2 AS MATERIALIZED (SELECT e.dst AS node_id, SUM(w1.c) AS c
                        FROM e JOIN w1 ON w1.node_id = e.src GROUP BY 1),
    w3 AS (SELECT e.dst AS node_id, SUM(w2.c) AS c
           FROM e JOIN w2 ON w2.node_id = e.src GROUP BY 1),
    num AS (
      SELECT n.node_id,
             COALESCE(w1.c, 0) * 16 + COALESCE(w2.c, 0) * 4
               + COALESCE(w3.c, 0) AS katz_num
      FROM n LEFT JOIN w1 USING (node_id)
      LEFT JOIN w2 USING (node_id)
      LEFT JOIN w3 USING (node_id))
    SELECT node_id, CAST(katz_num AS BIGINT) AS katz_num,
           CAST(katz_num AS DOUBLE) / 64 AS katz
    FROM num ORDER BY katz_num DESC, node_id LIMIT 30
    """,
    doc="Truncated Katz centrality (community.katz_truncated, K=3, "
    "α=1/4): katz(v) = Σₖ αᵏ·(length-k paths ending at v), carried as "
    "ONE exact BIGINT numerator Σₖ 4^(3−k)·pₖ(v) over the common 4³ "
    "denominator — path counts are integers, so the only float is the "
    "single reported division. K adjacency joins; truncation is the "
    "dataflow-scale trade vs inverting (I−αA).",
)
def graph_katz_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import katz_truncated

    e = derived_rels(spark, sf_dir).select("src", "dst")
    return (
        katz_truncated(e, max_len=3, alpha_denom=4)
        .orderBy(F.desc("katz_num"), "node_id")
        .limit(30)
    )


@register(
    "graph_degree_assortativity",
    f"""
    WITH {copurchase_cte(_SLICE)},
    s AS (
      SELECT COUNT(*) AS m2,
             SUM(dx.deg * dy.deg) AS sxy,
             SUM(dx.deg) AS sx,
             SUM(dx.deg * dx.deg) AS sx2
      FROM adj a
      JOIN deg dx ON dx.node_id = a.u
      JOIN deg dy ON dy.node_id = a.v)
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           CAST(sxy AS BIGINT) AS sxy, CAST(sx AS BIGINT) AS sx,
           CAST(sx2 AS BIGINT) AS sx2,
           (CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / (CAST(m2 AS DOUBLE) * CAST(sx2 AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS r
    FROM s
    """,
    doc="Degree assortativity (Newman r) of the 500-part co-purchase "
    "graph (community.degree_assortativity): Pearson correlation of "
    "endpoint degrees over edge stubs from EXACT BIGINT sufficient "
    "statistics, with the final formula a fixed sequence of single "
    "IEEE ops — the hubs-attach-to-hubs homophily diagnostic, "
    "engine-exact. One degree shuffle + one stub aggregation.",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import degree_assortativity

    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    return degree_assortativity(e)


@register(
    "graph_coloring_luby",
    None,  # MIS-peel rounds are data-dependent across colors — the
    # proper-coloring INVARIANTS are asserted in test_community; the
    # single-MIS layer is the oracle-checked unit (graph_mis_luby)
    doc="Distributed graph coloring by iterated deterministic-Luby MIS "
    "peeling (community.greedy_coloring) over the 500-part co-purchase "
    "slice: color c = c-th independent layer, proper by construction, "
    "deterministic via md5 priorities. Reports nodes-per-color — the "
    "conflict-free scheduling partition (≤ Δ+1 colors). Portable twin: "
    "the single-MIS layer is oracle-checked as graph_mis_luby (the peel "
    "loop's round count is data-dependent, so only the layer unit has a "
    "recursive-SQL twin); proper-coloring invariants are asserted in "
    "test_community.",
)
def graph_coloring_luby(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.community import greedy_coloring

    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    return (
        greedy_coloring(e, seed=0, max_colors=24)
        .groupBy("color")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("color")
    )


@register(
    "graph_trade_reciprocity",
    """
    WITH flow AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey),
    recip AS (
      SELECT COUNT(*) AS n_edges,
             SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
               AS n_reciprocated
      FROM flow f
      LEFT JOIN flow r ON r.src = f.dst AND r.dst = f.src)
    SELECT n_edges, CAST(n_reciprocated AS BIGINT) AS n_reciprocated,
           CAST(n_reciprocated AS DOUBLE) / n_edges AS reciprocity
    FROM recip
    """,
    doc="Reciprocity of the nation-trade digraph (any-revenue edges): "
    "the fraction of directed edges whose reverse also exists — the "
    "mutual-trade diagnostic. One self-join on the flipped key; exact "
    "integer counts, a single reported division.",
)
def graph_trade_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    flow = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
    )
    rev = flow.select(F.col("src").alias("r_dst"), F.col("dst").alias("r_src"))
    joined = flow.join(
        rev,
        (F.col("src") == F.col("r_src")) & (F.col("dst") == F.col("r_dst")),
        "left",
    )
    return joined.agg(
        F.count("*").alias("n_edges"),
        F.sum(F.col("r_src").isNotNull().cast("int")).cast("long").alias(
            "n_reciprocated"
        ),
    ).select(
        "n_edges",
        "n_reciprocated",
        (F.col("n_reciprocated").cast("double") / F.col("n_edges")).alias(
            "reciprocity"
        ),
    )


@register(
    "graph_rich_club",
    f"""
    WITH {copurchase_cte(_SLICE)},
    ks(k) AS (VALUES (5), (10), (20)),
    club AS (SELECT ks.k, d.node_id FROM ks JOIN deg d ON d.deg > ks.k),
    nk AS (SELECT k, COUNT(*) AS n_k FROM club GROUP BY k),
    ek AS (SELECT c1.k, COUNT(*) AS e_k
           FROM e
           JOIN club c1 ON c1.node_id = e.a
           JOIN club c2 ON c2.node_id = e.b AND c2.k = c1.k
           GROUP BY c1.k)
    SELECT n.k, n.n_k, COALESCE(ek.e_k, 0) AS e_k,
           CAST(2 * COALESCE(ek.e_k, 0) AS DOUBLE)
             / (n.n_k * (n.n_k - 1)) AS phi
    FROM nk n LEFT JOIN ek USING (k)
    WHERE n.n_k >= 2
    ORDER BY n.k
    """,
    doc="Rich-club coefficient φ(k) of the 500-part co-purchase graph "
    "at k ∈ {5,10,20}: the edge density among nodes of degree > k — "
    "do hubs preferentially interconnect. Exact integer node/edge "
    "counts (the k table is a 3-row broadcast dim); one reported "
    "division per k.",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    deg = (
        e.select(F.col("a").alias("node_id"))
        .unionByName(e.select(F.col("b").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count("*").alias("deg"))
    )
    ks = spark.createDataFrame([(5,), (10,), (20,)], "k int")
    club = F.broadcast(ks).join(deg, F.col("deg") > F.col("k")).select(
        "k", "node_id"
    )
    nk = club.groupBy("k").agg(F.count("*").alias("n_k"))
    ek = (
        e.join(club.select(F.col("k"), F.col("node_id").alias("a")), "a")
        .join(club.select(F.col("k").alias("k2"), F.col("node_id").alias("b")), "b")
        .filter(F.col("k") == F.col("k2"))
        .groupBy("k")
        .agg(F.count("*").alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left")
        .withColumn("e_k", F.coalesce(F.col("e_k"), F.lit(0)))
        .filter(F.col("n_k") >= 2)
        .select(
            "k",
            "n_k",
            "e_k",
            (
                (2 * F.col("e_k")).cast("double")
                / (F.col("n_k") * (F.col("n_k") - 1))
            ).alias("phi"),
        )
        .orderBy("k")
    )


@register(
    "parts_association_rules",
    f"""
    WITH {copurchase_cte(_SLICE)},
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
    supp AS (SELECT l_partkey AS item, COUNT(*) AS s FROM li GROUP BY 1),
    pair AS (SELECT a.l_partkey AS ante, b.l_partkey AS cons,
                    COUNT(*) AS s_ab
             FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey <> b.l_partkey
             GROUP BY 1, 2)
    SELECT p.ante, p.cons, p.s_ab, sa.s AS s_ante, sc.s AS s_cons,
           CAST(p.s_ab AS DOUBLE) / sa.s AS confidence,
           CAST(n.n_orders AS DOUBLE) * p.s_ab / (sa.s * sc.s) AS lift
    FROM pair p
    JOIN supp sa ON sa.item = p.ante
    JOIN supp sc ON sc.item = p.cons, n
    WHERE p.s_ab >= 3
    ORDER BY lift DESC, ante, cons LIMIT 20
    """,
    doc="Association rules A→B from the 500-part basket slice: "
    "confidence = supp(AB)/supp(A) and lift = N·supp(AB)/(supp(A)·"
    "supp(B)) — each a fixed one-or-two-op IEEE expression over exact "
    "integer supports; min-support 3 prunes noise and the (lift desc, "
    "ante, cons) total order bounds the LIMIT. Completes the basket "
    "family: pair counts → triples → directed rules.",
)
def parts_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = basket(spark, sf_dir, _SLICE)
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    supp = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").alias("s")
    )
    pair = (
        li.select(F.col("l_orderkey"), F.col("l_partkey").alias("ante"))
        .join(
            li.select(F.col("l_orderkey"), F.col("l_partkey").alias("cons")),
            "l_orderkey",
        )
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count("*").alias("s_ab"))
        .filter(F.col("s_ab") >= 3)
    )
    return (
        pair.join(
            F.broadcast(supp.select(F.col("item").alias("ante"), F.col("s").alias("s_ante"))),
            "ante",
        )
        .join(
            F.broadcast(supp.select(F.col("item").alias("cons"), F.col("s").alias("s_cons"))),
            "cons",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            "s_ab",
            "s_ante",
            "s_cons",
            (F.col("s_ab").cast("double") / F.col("s_ante")).alias("confidence"),
            (
                F.col("n_orders").cast("double")
                * F.col("s_ab")
                / (F.col("s_ante") * F.col("s_cons"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "ante", "cons")
        .limit(20)
    )


@register(
    "graph_orc_roundtrip",
    f"""
    {graph_cte(rels=False)}
    SELECT id, kind, in_use, name FROM nodes ORDER BY id
    """,
    doc="Portable store copy round-trip in ORC (sink.export_orc / "
    "import_orc): the node store written as ORC and read back with a "
    "pinned schema, hash-matched against the oracle's node derivation "
    "— the columnar-interchange sibling of graph_jsonl_roundtrip "
    "(Hive/Trino ecosystems speak ORC; parquet remains the native "
    "format). The stage dir is named by `catalog._temp` from the "
    "tables' realpaths, sizes and mtimes, and written only when absent.",
)
def graph_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..catalog import _parquet_files, _temp
    from ..sources.sink import export_orc, import_orc

    out = _temp("orc_nodes", *_parquet_files(sf_dir))
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        export_orc(derived_nodes(spark, sf_dir), out)
    back = import_orc(
        spark, out, "id long, kind string, in_use boolean, name string"
    )
    return back.select("id", "kind", "in_use", "name").orderBy("id")


@register(
    "graph_label_propagation",
    f"""
    WITH {copurchase_cte(_SLICE)},
    {_label_rounds_cte(3)}
    SELECT CAST(node_id AS BIGINT) AS node_id, CAST(label AS BIGINT) AS label
    FROM l3 ORDER BY node_id
    """,
    doc="Synchronous label propagation (community.label_propagation, "
    "3 exact rounds) over the 500-part co-purchase graph: labels start "
    "as node ids, each round every node adopts its neighbors' most "
    "frequent label (ties -> smaller label) — exact BIGINT counts and "
    "a total argmax order make the unrolled rounds bit-deterministic, "
    "so the oracle replays them as QUALIFY CTEs (the cheap community "
    "baseline beside the Louvain round and MIS, same "
    "verifiable-unit contract). Spark argmax is min(struct(-cnt, "
    "label)) — no window, one combinable aggregation per round.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = copurchase(spark, sf_dir, _SLICE).select("a", "b")
    return (
        community.label_propagation(e, rounds=3)
        .select(F.col("node_id").cast("long"), F.col("label").cast("long"))
        .orderBy("node_id")
    )


@register(
    "graph_negative_samples",
    f"""
    {graph_cte(nodes=False)},
    e AS (SELECT src, dst FROM rels WHERE type_name = 'IN_NATION'
          AND src < 200),
    nodes AS (SELECT DISTINCT dst AS node_id FROM e),
    idx AS (SELECT node_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY node_id) - 1 AS BIGINT)
                     AS nidx
            FROM nodes),
    n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    cand AS (
      SELECT s.src, CAST(t.i AS INT) AS try_idx,
             ('0x' || substr(md5('42|' || CAST(s.src AS VARCHAR) || '|'
               || CAST(t.i AS VARCHAR)), 1, 15))::BIGINT % n.n_nodes AS nidx
      FROM (SELECT DISTINCT src FROM e) s CROSS JOIN range(3) t(i), n),
    withdst AS (
      SELECT c.src, c.try_idx, i.node_id AS neg_dst
      FROM cand c JOIN idx i USING (nidx))
    SELECT w.src, w.try_idx, w.neg_dst
    FROM withdst w
    LEFT JOIN e ON e.src = w.src AND e.dst = w.neg_dst
    WHERE e.src IS NULL AND w.src <> w.neg_dst
    ORDER BY w.src, w.try_idx
    """,
    doc="Link-prediction negative sampling "
    "(sampling.negative_edge_samples, k=3, seed 42) over the "
    "customer->nation membership edges (src < 200): per positive "
    "source, keyed-hash candidate endpoints from the destination "
    "universe, anti-joined against the real edges so no negative is "
    "accidentally positive; collisions drop (never resample — "
    "data-dependent loops break determinism and plan shape). "
    "Everything is md5-derived and rank-indexed, so the oracle "
    "replays the exact sample — the graph-ML training-data "
    "counterpart of the hash-split/epoch-shuffle family.",
)
def graph_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import negative_edge_samples

    e = (
        derived_rels(spark, sf_dir)
        .filter((F.col("type_name") == "IN_NATION") & (F.col("src") < 200))
        .select("src", "dst")
    )
    return negative_edge_samples(e, k=3, seed=42).orderBy("src", "try_idx")


@register(
    "rel_chain_explorer",
    f"""
    {graph_cte(nodes=False)},
    suspect AS (SELECT id AS rel_id FROM rels ORDER BY id LIMIT 5),
    e0 AS (
      SELECT s.rel_id, r.src AS node FROM suspect s JOIN rels r ON r.id = s.rel_id
      UNION ALL
      SELECT s.rel_id, r.dst FROM suspect s JOIN rels r ON r.id = s.rel_id),
    round1 AS (SELECT DISTINCT rel_id, found_rel FROM (
      SELECT e.rel_id, r.id AS found_rel FROM e0 e JOIN rels r ON e.node = r.src
      UNION ALL
      SELECT e.rel_id, r.id FROM e0 e JOIN rels r ON e.node = r.dst)),
    e2 AS (SELECT DISTINCT rel_id, node FROM (
      SELECT x.rel_id, r.src AS node FROM round1 x JOIN rels r ON r.id = x.found_rel
      UNION ALL
      SELECT x.rel_id, r.dst FROM round1 x JOIN rels r ON r.id = x.found_rel)),
    round2 AS (SELECT DISTINCT rel_id, found_rel FROM (
      SELECT e.rel_id, r.id AS found_rel FROM e2 e JOIN rels r ON e.node = r.src
      UNION ALL
      SELECT e.rel_id, r.id FROM e2 e JOIN rels r ON e.node = r.dst))
    SELECT DISTINCT rel_id, found_rel FROM (
      SELECT * FROM round1 UNION ALL SELECT * FROM round2)
    ORDER BY rel_id, found_rel
    """,
    doc="T3/J13/U1 driver-checked (was pytest-only): the repair tool's "
    "depth-2 chain exploration (traversal.chain_explorer; "
    "RelationshipChainExplorer.java:39-90) — from each suspect "
    "relationship (the 5 lowest rel ids), every relationship on both "
    "endpoint nodes' chains, then the chains of those rels' other "
    "endpoints; the two rounds union as a distinct RecordSet "
    "(RecordSet.java union semantics). Plan: two fixed self-join "
    "rounds over the exploded endpoint table — node-keyed equi-joins "
    "(no OR-join: src and dst branches union), bounded fanout = "
    "2-hop chain neighborhoods of 5 suspects at any store size.",
)
def rel_chain_explorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    suspects = (
        rels.orderBy("id").limit(5).select(F.col("id").alias("rel_id"))
    )
    return traversal.chain_explorer(rels, suspects).orderBy(
        "rel_id", "found_rel"
    )


@register(
    "rel_single_assertion",
    f"""
    {graph_cte(nodes=False)}
    SELECT id, src, dst, CAST(type_id AS INTEGER) AS type_id, type_name
    FROM rels
    WHERE src = 1 AND type_name = 'IN_NATION'
    ORDER BY id
    """,
    doc="P5 driver-checked (was pytest-only): getSingleRelationship "
    "(type, dir) 0-or-1 semantics (reads.single_relationship; "
    "LockableNode.java:147-151 — the kernel throws NotFoundException "
    "on >1). Customer 1 has EXACTLY ONE outgoing IN_NATION "
    "relationship by construction, so the assertion path (a bounded "
    "limit(2).collect() probe — 2 rows max, never corpus-sized) "
    "passes and the single row is hash-compared. The >1 raise branch "
    "is covered by the unit test.",
)
def rel_single_assertion(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = derived_rels(spark, sf_dir)
    return reads.single_relationship(
        rels, node_id=1, rel_type="IN_NATION", direction="out"
    ).select(
        "id", "src", "dst", F.col("type_id").cast("int").alias("type_id"),
        "type_name",
    ).orderBy("id")
