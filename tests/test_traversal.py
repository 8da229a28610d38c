"""Traversal operators: BFS, connected components, PageRank (M7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from neo4j_enterprise_spark.operators import traversal
from neo4j_enterprise_spark.operators.community import label_propagation


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(i, s, d, "T") for i, (s, d) in enumerate(pairs)],
        "id long, src long, dst long, type_name string",
    )


def test_bfs_hop_counts(spark):
    # path 0→1→2→3 plus branch 1→4
    rels = _edges_df(spark, [(0, 1), (1, 2), (2, 3), (1, 4)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = {
        (r["node_id"], r["hops"])
        for r in traversal.bfs_reachable(rels, seeds, k=2).collect()
    }
    assert out == {(0, 0), (1, 1), (2, 2), (4, 2)}


def test_bfs_takes_min_hops_on_diamond(spark):
    # 0→1→3 and 0→3 direct: hops(3) must be 1
    rels = _edges_df(spark, [(0, 1), (1, 3), (0, 3)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = {
        r["node_id"]: r["hops"]
        for r in traversal.bfs_reachable(rels, seeds, k=2).collect()
    }
    assert got[3] == 1 and got[1] == 1


def test_connected_components_two_islands(spark):
    rels = _edges_df(spark, [(0, 1), (1, 2), (5, 6), (6, 7)])
    out = {
        r["node_id"]: r["component"]
        for r in traversal.connected_components(rels).collect()
    }
    assert out[0] == out[1] == out[2] == 0
    assert out[5] == out[6] == out[7] == 5


def test_pagerank_sums_to_n_and_ranks_hub_highest(spark):
    # star: everyone points at 0
    rels = _edges_df(spark, [(1, 0), (2, 0), (3, 0), (4, 0)])
    out = {r["node_id"]: r["rank"] for r in traversal.pagerank(rels, iterations=15).collect()}
    assert abs(sum(out.values()) - 5.0) < 1e-6
    assert out[0] == max(out.values())


def test_connected_components_max_iter_cut_keeps_partial_labels(spark):
    # path 0-1-2-3-4-5: each round moves the minimum one hop, so after
    # max_iter rounds node v holds max(0, v - max_iter); 0 rounds is the
    # identity labelling
    rels = _edges_df(spark, [(v, v + 1) for v in range(5)])
    for max_iter in (0, 1, 2):
        out = {
            r["node_id"]: r["component"]
            for r in traversal.connected_components(rels, max_iter=max_iter).collect()
        }
        assert out == {v: max(0, v - max_iter) for v in range(6)}, max_iter


def test_connected_components_self_loop_isolated_pair_and_null_endpoint(spark):
    # a src == dst relationship is a component of its own; an isolated
    # pair takes its smaller id; a NULL endpoint is a node of its own
    # with a NULL label and links its other endpoint to nothing
    rels = _edges_df(spark, [(3, 1), (1, 2), (5, 5), (9, 8), (7, None)])
    out = {
        r["node_id"]: r["component"]
        for r in traversal.connected_components(rels).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 8: 8, 9: 8, 7: 7, None: None}


# dangling nodes (3 and 4 have no out-edges), a self-loop on 2 and a
# duplicate edge 0->1: the shapes the loop-invariant frames must preserve
_PR_EDGES = [(0, 1), (0, 1), (1, 2), (2, 2), (2, 0), (2, 3), (0, 4), (5, 1)]


def _power_iteration(pairs, iterations, damping, seeds=None):
    nodes = sorted({v for e in pairs for v in e})
    out_deg = {v: sum(1 for s, _ in pairs if s == v) for v in nodes}
    rank = {v: 1.0 for v in nodes}
    n = float(len(nodes))
    for _ in range(iterations):
        inc = {v: 0.0 for v in nodes}
        for s, d in pairs:
            inc[d] += rank[s] / out_deg[s]
        dangling = sum(rank[v] for v in nodes if out_deg[v] == 0)
        if seeds is None:
            rank = {v: (1 - damping) + damping * (inc[v] + dangling / n) for v in nodes}
        else:
            restart = ((1 - damping) * n + damping * dangling) / len(seeds)
            rank = {v: (restart if v in seeds else 0.0) + damping * inc[v] for v in nodes}
    return rank


def test_pagerank_matches_power_iteration_with_dangling_and_self_loop(spark):
    rels = _edges_df(spark, _PR_EDGES)
    got = {r["node_id"]: r["rank"] for r in traversal.pagerank(rels, iterations=7).collect()}
    want = _power_iteration(_PR_EDGES, 7, 0.85)
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-9 for v in want)


def test_personalized_pagerank_matches_power_iteration(spark):
    rels = _edges_df(spark, _PR_EDGES)
    seeds = spark.createDataFrame([(0,), (3,)], "seed long")
    got = {
        r["node_id"]: r["rank"]
        for r in traversal.personalized_pagerank(rels, seeds, iterations=7).collect()
    }
    want = _power_iteration(_PR_EDGES, 7, 0.85, seeds={0, 3})
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-9 for v in want)


def test_triangle_counts_k4_minus_edge(spark):
    # K4 on {0,1,2,3} minus edge (2,3): triangles {0,1,2} and {0,1,3}.
    # deg: 0→3, 1→3, 2→2, 3→2; T: 0→2, 1→2, 2→1, 3→1.
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)], "src long, dst long"
    )
    out = {r["node_id"]: r for r in traversal.triangle_counts(edges).collect()}
    assert {n: r["triangles"] for n, r in out.items()} == {0: 2, 1: 2, 2: 1, 3: 1}
    assert {n: r["degree"] for n, r in out.items()} == {0: 3, 1: 3, 2: 2, 3: 2}
    assert out[0]["clustering"] == 2 * 2 / (3 * 2)  # 2T/(d(d-1))
    assert out[2]["clustering"] == 1.0


def test_triangle_counts_triangle_free(spark):
    # 4-cycle: wedges everywhere, zero triangles.
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (0, 3)], "src long, dst long")
    rows = traversal.triangle_counts(edges).collect()
    assert all(r["triangles"] == 0 and r["clustering"] == 0.0 for r in rows)


def test_weighted_shortest_paths_prefers_cheap_detour(spark):
    # 0→1 costs 10; 0→2→3→1 costs 3: dist(1) must be 3, not 10.
    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, weight long"
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = {
        r["node_id"]: r["dist"]
        for r in traversal.weighted_shortest_paths(edges, seeds, max_dist=20).collect()
    }
    assert out == {0: 0, 2: 1, 3: 2, 1: 3}


def test_weighted_shortest_paths_respects_bound(spark):
    edges = spark.createDataFrame([(0, 1, 5), (1, 2, 5)], "src long, dst long, weight long")
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = {
        r["node_id"]: r["dist"]
        for r in traversal.weighted_shortest_paths(edges, seeds, max_dist=6).collect()
    }
    assert out == {0: 0, 1: 5}  # node 2 at dist 10 exceeds the bound


def test_weighted_shortest_paths_runs_past_thirty_rounds(spark):
    # a 41-node unit-weight path settles one node per round: 40 rounds,
    # more than the 30 the loop was once silently capped at
    edges = spark.createDataFrame(
        [(v, v + 1, 1) for v in range(40)], "src long, dst long, weight long"
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = {
        r["node_id"]: r["dist"]
        for r in traversal.weighted_shortest_paths(edges, seeds, max_dist=100).collect()
    }
    assert out == {v: v for v in range(41)}


def test_label_propagation_two_triangles(spark):
    # Two disconnected triangles: after 2 deterministic rounds every
    # node carries its triangle's min id (round 1 ties break to the
    # smallest neighbor label; round 2 the majority settles it).
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)],
        "a long, b long",
    )
    out = {r["node_id"]: r["label"] for r in label_propagation(edges, rounds=2).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_label_propagation_is_deterministic(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)],
        "a long, b long",
    )
    a = sorted(map(tuple, label_propagation(edges, rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(edges, rounds=3).collect()))
    assert a == b


def test_label_propagation_self_loop_votes_for_own_label(spark):
    # Node 5 hears one vote each from 7, 8 and (through its self-loop)
    # itself: the tie goes to the smallest label, its own 5 — without the
    # self vote it would take 7. A node whose only edge is a self-loop
    # keeps its own label instead of dropping out.
    edges = spark.createDataFrame([(5, 5), (5, 7), (5, 8), (9, 9)], "a long, b long")
    out = {r["node_id"]: r["label"] for r in label_propagation(edges, rounds=1).collect()}
    assert out == {5: 5, 7: 5, 8: 5, 9: 9}


def test_k_core_triangle_with_pendant(spark):
    # Triangle {0,1,2} plus pendant 3-0: the 2-core is exactly the
    # triangle (pendant removal must NOT cascade into the triangle).
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 0)], "src long, dst long"
    )
    out = {r["node_id"]: r["degree"] for r in traversal.k_core(edges, k=2).collect()}
    assert out == {0: 2, 1: 2, 2: 2}


def test_k_core_chain_cascades_to_empty(spark):
    # A path graph has no 2-core: peeling the endpoints cascades inward.
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert traversal.k_core(edges, k=2).count() == 0


def test_k_core_long_path_peels_to_empty(spark):
    # a 100-node path peels two end nodes per round: ~50 rounds to reach
    # the empty 2-core, past any fixed round cap of 30
    edges = spark.createDataFrame([(v, v + 1) for v in range(99)], "src long, dst long")
    assert traversal.k_core(edges, k=2).collect() == []


def test_k_core_clique_survives_whole(spark):
    import itertools

    edges = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(5), 2)], "src long, dst long"
    )
    out = traversal.k_core(edges, k=4).collect()
    assert sorted(r["node_id"] for r in out) == [0, 1, 2, 3, 4]
    assert all(r["degree"] == 4 for r in out)


def _dfs_preorder_reference(adj, seed, k):
    """Plain recursive DFS with ascending-id children and a depth cap —
    the order the legacy Traverser would produce."""
    visited, order = set(), []

    def go(node, depth):
        visited.add(node)
        order.append(node)
        if depth == k:
            return
        for nxt in sorted(adj.get(node, [])):
            if nxt not in visited:
                go(nxt, depth + 1)

    go(seed, 0)
    return {n: i + 1 for i, n in enumerate(order)}


def test_dfs_preorder_matches_recursive_dfs(spark):
    # branchy graph with a cycle and a cross edge
    pairs = [(0, 2), (0, 5), (2, 3), (2, 7), (3, 5), (5, 1), (1, 0), (7, 1)]
    rels = _edges_df(spark, pairs)
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, []).append(d)
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = {
        r["node_id"]: r["preorder"]
        for r in traversal.dfs_preorder(rels, seeds, k=4).collect()
    }
    assert got == _dfs_preorder_reference(adj, 0, 4)


def test_dfs_preorder_chain_vs_branch(spark):
    # 0→{1,9}, 1→{9}: DFS visits 9 through the 1-branch first
    rels = _edges_df(spark, [(0, 1), (0, 9), (1, 9)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = {
        r["node_id"]: r["preorder"]
        for r in traversal.dfs_preorder(rels, seeds, k=3).collect()
    }
    assert got == {0: 1, 1: 2, 9: 3}


def test_dfs_preorder_ranks_all_within_k_on_depth_cap_diamond(spark):
    """Pins the documented divergence from a sequential visited-set DFS.

    Diamond 0→1, 1→2, 2→3, 0→2 at k=2: a sequential depth-capped DFS
    visits 2 at the cap via 0-1-2 and never discovers 3 (2 already
    visited when the 0-2 branch is tried). dfs_preorder deliberately
    ranks ALL nodes with a ≤ k-hop simple path — 3 is ranked via 0-2-3 —
    ordered by lex-min simple path: 0 < 0-1 < 0-1-2 < 0-2-3.
    """
    rels = _edges_df(spark, [(0, 1), (1, 2), (2, 3), (0, 2)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = {
        r["node_id"]: r["preorder"]
        for r in traversal.dfs_preorder(rels, seeds, k=2).collect()
    }
    assert got == {0: 1, 1: 2, 2: 3, 3: 4}


def test_hyperball_matches_exact_ball_sizes(spark):
    from neo4j_enterprise_spark.operators.traversal import bfs_reachable, hyperball

    # chain with a hub: 0->1->2->3, hub 9 -> {0,1,2,3}
    rels = spark.createDataFrame(
        [(0, 0, 1, "E"), (1, 1, 2, "E"), (2, 2, 3, "E"),
         (3, 9, 0, "E"), (4, 9, 1, "E"), (5, 9, 2, "E"), (6, 9, 3, "E")],
        "id long, src long, dst long, type_name string",
    )
    est = {r["node_id"]: r["ball_size"] for r in hyperball(rels, radius=2).collect()}
    seeds = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 9]], "seed long")
    exact = (
        bfs_reachable(rels, seeds, k=2)
        .groupBy("seed")
        .count()
        .collect()
    )
    for r in exact:
        # tiny sets: HLL is exact at this cardinality
        assert abs(est[r["seed"]] - r["count"]) < 0.5, (r["seed"], est[r["seed"]], r["count"])


def test_random_walks_deterministic_and_stop_at_sinks(spark):
    from neo4j_enterprise_spark.operators.traversal import random_walks

    rels = spark.createDataFrame(
        [(0, 0, 1, "E"), (1, 0, 2, "E"), (2, 1, 3, "E")],  # 3 is a sink
        "id long, src long, dst long, type_name string",
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    a = sorted(tuple(r) for r in random_walks(rels, seeds, length=4, seed=1).collect())
    b = sorted(tuple(r) for r in random_walks(rels, seeds, length=4, seed=1).collect())
    assert a == b  # reproducible
    # walk stops when it reaches a sink: no step beyond the dead end
    steps = {r[2] for r in a}  # wait: columns (walk_id, node_id, step)
    by_step = {}
    for walk_id, node_id, step in a:
        by_step[step] = node_id
    last = max(by_step)
    assert last <= 4
    # a different seed may pick the other branch somewhere; at minimum
    # the choice function is seed-sensitive over many steps/graphs —
    # assert only well-formedness here (chain property):
    for s in range(1, last + 1):
        prev, cur = by_step[s - 1], by_step[s]
        assert (prev, cur) in {(0, 1), (0, 2), (1, 3)}


def test_random_walks_plan_is_linear_in_length(spark):
    import re

    from neo4j_enterprise_spark.operators.traversal import random_walks

    rels = _edges_df(spark, [(i, i + 1) for i in range(8)] + [(0, 2), (2, 5)])
    seeds = spark.createDataFrame([(0,), (1,)], "seed long")
    walks = random_walks(rels, seeds, length=6, seed=3)
    plan = walks._jdf.queryExecution().optimizedPlan().toString()
    # a lazy step re-derived by every later one gave 21 Window nodes here
    assert len(re.findall(r"\bWindow \[", plan)) <= 6, plan
    assert walks.filter(F.col("step") == 6).count() == 2


def test_personalized_pagerank_concentrates_near_seeds(spark):
    from neo4j_enterprise_spark.operators.traversal import (
        pagerank,
        personalized_pagerank,
    )

    # two disconnected chains: 0->1->2 and 10->11->12
    rels = spark.createDataFrame(
        [(0, 0, 1, "E"), (1, 1, 2, "E"), (2, 10, 11, "E"), (3, 11, 12, "E")],
        "id long, src long, dst long, type_name string",
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    ppr = {r["node_id"]: r["rank"] for r in
           personalized_pagerank(rels, seeds, iterations=12).collect()}
    # mass conserves at ~N
    assert abs(sum(ppr.values()) - 6) < 1e-6
    # the seed's component holds ~all mass; the far chain decays to ~0
    near = ppr[0] + ppr[1] + ppr[2]
    far = ppr[10] + ppr[11] + ppr[12]
    assert near > 5.9 and far < 0.1
    # plain pagerank spreads teleport everywhere instead
    pr = {r["node_id"]: r["rank"] for r in pagerank(rels, iterations=12).collect()}
    assert pr[10] > 0.1
