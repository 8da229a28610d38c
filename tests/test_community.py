"""Unit tests for graph-structure analytics (operators/community.py):
path-doubling closure, SCC via closure ∩ reverse, condensation layers,
and neighborhood-Jaccard similarity — on hand-checkable graphs."""

from __future__ import annotations

from pyspark.sql import functions as F

from neo4j_enterprise_spark.operators.community import (
    condensation_layers,
    neighborhood_jaccard,
    strongly_connected,
    transitive_closure,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_transitive_closure_chain(spark):
    # 0→1→2→3: closure is all ordered pairs (i, j), i < j
    reach = transitive_closure(_edges(spark, [(0, 1), (1, 2), (2, 3)]))
    got = sorted(map(tuple, reach.collect()))
    assert got == [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]


def test_transitive_closure_cycle(spark):
    # 3-cycle: every ordered pair of distinct nodes, no self-loops
    reach = transitive_closure(_edges(spark, [(0, 1), (1, 2), (2, 0)]))
    got = sorted(map(tuple, reach.collect()))
    assert got == [(0, 1), (0, 2), (1, 0), (1, 2), (2, 0), (2, 1)]


def test_scc_two_cycles_and_bridge(spark):
    # {0,1} cycle → bridge → {2,3,4} cycle, plus isolated-ish tail 5
    e = _edges(
        spark,
        [(0, 1), (1, 0), (1, 2), (2, 3), (3, 4), (4, 2), (4, 5)],
    )
    got = dict(map(tuple, strongly_connected(e).collect()))
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 2, 5: 5}


def test_condensation_layers_diamond(spark):
    # SCC A={0,1} → B={2} and A → C={3}, B → C: layers A=0, B=1, C=2
    e = _edges(
        spark,
        [(0, 1), (1, 0), (1, 2), (0, 3), (2, 3)],
    )
    scc = strongly_connected(e)
    got = dict(map(tuple, condensation_layers(e, scc).collect()))
    assert got == {0: 0, 2: 1, 3: 2}


def test_scc_longest_condensation_chain_exceeds_one_doubling(spark):
    # a pure path of 9 singleton SCCs: layer i for node i — needs the
    # max-plus doubling to run multiple rounds (2^r ≥ 8)
    e = _edges(spark, [(i, i + 1) for i in range(8)])
    scc = strongly_connected(e)
    assert dict(map(tuple, scc.collect())) == {i: i for i in range(9)}
    layers = dict(map(tuple, condensation_layers(e, scc).collect()))
    assert layers == {i: i for i in range(9)}


def test_neighborhood_jaccard_exact(spark):
    # A={10,11,12}, B={11,12,13}, C={12}:
    #   J(A,B)=2/4, J(A,C)=1/3, J(B,C)=1/3
    pairs = (
        [(1, n) for n in (10, 11, 12)]
        + [(2, n) for n in (11, 12, 13)]
        + [(3, 12)]
    )
    got = {
        (r.node_a, r.node_b): (r.n_shared, r.deg_a, r.deg_b, r.jaccard)
        for r in neighborhood_jaccard(_edges(spark, pairs)).collect()
    }
    assert got[(1, 2)] == (2, 3, 3, 0.5)
    assert got[(1, 3)] == (1, 3, 1, 1 / 3)
    assert got[(2, 3)] == (1, 3, 1, 1 / 3)


def test_neighborhood_jaccard_hub_cut_recomputes_degrees(spark):
    # neighbor 99 is shared by everyone (degree 3 > cap 2) — dropping it
    # must also drop it from the degree counts, so (1,2) keeps J=1/1 on
    # the filtered graph rather than 2/3 on the raw one
    pairs = [(1, 99), (2, 99), (3, 99), (1, 10), (2, 10)]
    got = {
        (r.node_a, r.node_b): (r.n_shared, r.deg_a, r.deg_b, r.jaccard)
        for r in neighborhood_jaccard(
            _edges(spark, pairs), max_neighbor_degree=2
        ).collect()
    }
    assert got == {(1, 2): (1, 1, 1, 1.0)}


def test_partition_modularity_two_cliques(spark):
    from neo4j_enterprise_spark.operators.community import partition_modularity

    # two triangles joined by one bridge edge; communities = the triangles
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)],
        "a long, b long",
    )
    com = spark.createDataFrame(
        [(i, "left" if i < 3 else "right") for i in range(6)],
        "node_id long, community string",
    )
    rows = {r.community: r for r in partition_modularity(edges, com).collect()}
    # m=7; left: e_c=3, d_c=7 → q_num = 4*7*3 - 49 = 35; same for right
    assert rows["left"].e_c == 3 and rows["left"].d_c == 7
    assert rows["left"].q_num == 35 and rows["right"].q_num == 35
    assert abs(rows["left"].q_total - 70 / 196) < 1e-12


def test_merge_nodes_get_or_create(spark):
    from neo4j_enterprise_spark.operators.mutation import merge_nodes

    nodes = spark.createDataFrame(
        [(1, "n", False, "a"), (2, "n", True, "b")],
        "id long, kind string, in_use boolean, name string",
    )
    cand = spark.createDataFrame(
        [("n", "a"), ("n", "zz")], "kind string, name string"
    )
    out = merge_nodes(
        nodes,
        cand,
        match_keys=["kind", "name"],
        high_water=100,
        on_match={"in_use": True},
        on_create={"in_use": True},
    )
    got = {r.name: (r.id, r.in_use) for r in out.collect()}
    assert got["a"] == (1, True)        # matched: flag flipped, id kept
    assert got["b"] == (2, True)        # untouched
    assert got["zz"] == (101, True)     # created above high-water
    assert out.count() == 3


def test_ktruss_peel_keeps_k4_drops_tail(spark):
    from neo4j_enterprise_spark.operators.community import ktruss_peel

    # K4 on {0,1,2,3} (every edge in 2 triangles) + tail 3-4-5 (support 0)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(k4 + [(3, 4), (4, 5)], "a long, b long")
    got = {(r.a, r.b): r.support for r in ktruss_peel(edges, k=4).collect()}
    assert got == {e: 2 for e in k4}


def test_ktruss_peel_low_k_keeps_every_edge_and_k3_drops_tail(spark):
    from neo4j_enterprise_spark.operators.community import ktruss_peel

    # K4 on {0,1,2,3} (support 2 each) + tail 3-4-5 (support 0)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(k4 + [(3, 4), (4, 5)], "a long, b long")
    got = {(r.a, r.b): r.support for r in ktruss_peel(edges, k=2).collect()}
    assert got == {**{e: 2 for e in k4}, (3, 4): 0, (4, 5): 0}
    got = {(r.a, r.b): r.support for r in ktruss_peel(edges, k=3).collect()}
    assert got == {e: 2 for e in k4}


def test_ktruss_peel_cascading_deletion_needs_second_round(spark):
    from neo4j_enterprise_spark.operators.community import ktruss_peel

    # triangle {0,1,2} + triangle {2,3,4} sharing node 2, plus edge 1-3
    # bridging: round 1 deletes the support-<2 edges, which drops the
    # triangles' support below 2 in round 2 — everything peels for k=4
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (2, 4), (3, 4), (1, 3)],
        "a long, b long",
    )
    assert ktruss_peel(edges, k=4, rounds=3).count() == 0


# --- property tests vs pure-python references ---------------------------

from hypothesis import HealthCheck, given, settings as hsettings
from hypothesis import strategies as st

_hslow = hsettings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_closure(edges):
    nodes = {u for e in edges for u in e}
    reach = {u: set() for u in nodes}
    for u, v in edges:
        if u != v:
            reach[u].add(v)
    changed = True
    while changed:
        changed = False
        for u in nodes:
            add = set().union(*(reach[w] for w in reach[u])) - reach[u] if reach[u] else set()
            add.discard(u)
            if add:
                reach[u] |= add
                changed = True
    return {(u, v) for u in nodes for v in reach[u]}


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=16
    ),
    )
@_hslow
def test_closure_and_scc_match_python_reference(spark, edges):
    from neo4j_enterprise_spark.operators.community import (
        strongly_connected,
        transitive_closure,
    )

    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    ref = _py_closure(edges)
    got = {tuple(r) for r in transitive_closure(edf, max_rounds=4).collect()}
    assert got == ref
    # SCC reference: mutual reachability from the same closure
    nodes = {u for e in edges for u in e}
    ref_scc = {
        v: min(
            [v]
            + [u for u in nodes if (u, v) in ref and (v, u) in ref and u != v]
        )
        for v in nodes
    }
    got_scc = dict(map(tuple, strongly_connected(edf, max_rounds=4).collect()))
    assert got_scc == ref_scc


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=1, max_size=12
    ),
    n_com=st.integers(1, 3),
)
@_hslow
def test_modularity_contributions_sum_to_newman_q(spark, edges, n_com):
    from neo4j_enterprise_spark.operators.community import partition_modularity

    und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not und:
        return
    nodes = sorted({u for e in und for u in e})
    com = {v: v % n_com for v in nodes}
    m = len(und)
    deg = {v: 0 for v in nodes}
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    q_ref = sum(
        sum(1 for a, b in und if com[a] == c and com[b] == c) / m
        - (sum(d for v, d in deg.items() if com[v] == c) / (2 * m)) ** 2
        for c in range(n_com)
    )
    edf = spark.createDataFrame(und, "a long, b long")
    cdf = spark.createDataFrame(sorted(com.items()), "node_id long, community int")
    rows = partition_modularity(edf, cdf).collect()
    assert abs(rows[0].q_total - q_ref) < 1e-9
    assert abs(sum(r.q_contrib for r in rows) - q_ref) < 1e-9


def test_merge_nodes_dedupes_duplicate_candidates(spark):
    from neo4j_enterprise_spark.operators.mutation import merge_nodes

    nodes = spark.createDataFrame(
        [(1, "n", True, "a")], "id long, kind string, in_use boolean, name string"
    )
    cand = spark.createDataFrame(
        [("n", "zz"), ("n", "zz"), ("n", "a")], "kind string, name string"
    )
    out = merge_nodes(nodes, cand, match_keys=["kind", "name"], high_water=100)
    assert out.count() == 2  # one existing + ONE created, not two
    assert out.filter(F.col("name") == "zz").count() == 1


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=2, max_size=14
    ),
)
@_hslow
def test_louvain_round_matches_python_gain_argmax(spark, edges):
    from neo4j_enterprise_spark.operators.community import louvain_move_round

    und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not und:
        return
    nodes = sorted({u for e in und for u in e})
    m = len(und)
    adj = {v: [] for v in nodes}
    for a, b in und:
        adj[a].append(b)
        adj[b].append(a)
    deg = {v: len(adj[v]) for v in nodes}
    ref = {}
    for u in nodes:
        k_in = {}
        for v in adj[u]:
            k_in[v] = k_in.get(v, 0) + 1  # singleton: community(v) = v
        k_in.setdefault(u, 0)
        best = None
        for c, ki in k_in.items():
            d_eff = (deg[c] if c in nodes else 0) - (deg[u] if c == u else 0)
            score = 2 * m * ki - d_eff * deg[u]
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c, score)
        ref[u] = (u, best[1], best[2])
    edf = spark.createDataFrame(und, "a long, b long")
    got = {
        r.node_id: (r.old_com, r.new_com, r.score_num)
        for r in louvain_move_round(edf).collect()
    }
    assert got == ref


def test_louvain_rounds_increase_modularity_and_find_cliques(spark):
    from neo4j_enterprise_spark.operators.community import (
        louvain_communities,
        partition_modularity,
    )

    # two 4-cliques + one bridge: Louvain must find the two cliques
    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a + 10, b + 10) for a, b in k4a]
    edges = spark.createDataFrame(k4a + k4b + [(3, 10)], "a long, b long")
    com = louvain_communities(edges)
    got = dict(map(tuple, com.collect()))
    assert len({got[v] for v in range(4)}) == 1
    assert len({got[v + 10] for v in range(4)}) == 1
    assert got[0] != got[10]
    # modularity of the found partition beats the singleton partition
    singles = com.select("node_id").withColumn("community", F.col("node_id"))
    q_found = partition_modularity(edges, com).collect()[0].q_total
    q_single = partition_modularity(edges, singles).collect()[0].q_total
    assert q_found > q_single


def _py_brandes(und, nodes, sources):
    # reference Brandes (Algorithm 1, Brandes 2001), unnormalized,
    # summed over the given sources only
    import collections

    adj = collections.defaultdict(list)
    for a, b in und:
        adj[a].append(b)
        adj[b].append(a)
    bc = {v: 0.0 for v in nodes}
    for s in sources:
        stack, preds = [], {v: [] for v in nodes}
        sigma = {v: 0 for v in nodes}
        dist = {v: -1 for v in nodes}
        sigma[s], dist[s] = 1, 0
        queue = collections.deque([s])
        while queue:
            v = queue.popleft()
            stack.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in nodes}
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_star_exact(spark):
    from neo4j_enterprise_spark.operators.community import betweenness_sampled

    k = 5
    edges = spark.createDataFrame([(0, i) for i in range(1, k + 1)], "a long, b long")
    sources = spark.createDataFrame([(i,) for i in range(k + 1)], "source long")
    got = dict(map(tuple, betweenness_sampled(edges, sources).collect()))
    assert got.get(0, 0.0) == k * (k - 1)
    for leaf in range(1, k + 1):
        assert got.get(leaf, 0.0) == 0.0


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=2, max_size=12
    ),
)
@_hslow
def test_betweenness_matches_python_brandes(spark, edges):
    from neo4j_enterprise_spark.operators.community import betweenness_sampled

    und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not und:
        return
    nodes = sorted({u for e in und for u in e})
    ref = _py_brandes(und, nodes, nodes)
    edf = spark.createDataFrame(und, "a long, b long")
    sdf = spark.createDataFrame([(v,) for v in nodes], "source long")
    got = dict(map(tuple, betweenness_sampled(edf, sdf, max_depth=8).collect()))
    for v in nodes:
        assert abs(got.get(v, 0.0) - ref[v]) < 1e-9, (v, got, ref)


def test_mis_independent_and_maximal(spark):
    from neo4j_enterprise_spark.operators.community import (
        maximal_independent_set,
    )

    # path + clique mix
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (2, 5)],
        "a long, b long",
    )
    mis = maximal_independent_set(edges, seed=1)
    m = {r.node_id for r in mis.collect()}
    und = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (2, 5)]
    assert all(not (a in m and b in m) for a, b in und)  # independent
    nodes = {u for e_ in und for u in e_}
    nbrs = {v: set() for v in nodes}
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    assert all(v in m or nbrs[v] & m for v in nodes)  # maximal


def _py_luby(und, seed, rounds=8):
    import hashlib

    def pri(v):
        return hashlib.md5(f"{seed}|{v}".encode()).hexdigest()

    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    active = set(nbrs)
    mis = set()
    for _ in range(rounds):
        if not active:
            break
        win = {
            v
            for v in active
            if all(pri(v) < pri(u) for u in nbrs[v] & active)
        }
        mis |= win
        killed = set(win)
        for w in win:
            killed |= nbrs[w]
        active -= killed
    return mis


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=14
    ),
    seed=st.integers(0, 3),
)
@_hslow
def test_mis_matches_python_luby(spark, edges, seed):
    from neo4j_enterprise_spark.operators.community import (
        maximal_independent_set,
    )

    und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not und:
        return
    edf = spark.createDataFrame(und, "a long, b long")
    got = {r.node_id for r in maximal_independent_set(edf, seed=seed).collect()}
    assert got == _py_luby(und, seed)


def test_hits_exact_on_small_dag(spark):
    from neo4j_enterprise_spark.operators.community import hits_unnormalized

    # 0→2, 1→2, 2→3: a1 = in-deg {2:2, 3:1}; h1 = {0:2, 1:2, 2:1};
    # a2 = {2: h(0)+h(1)=4, 3: h(2)=1}; h2 = {0:4, 1:4, 2:1, 3:0}
    e = spark.createDataFrame([(0, 2), (1, 2), (2, 3)], "src long, dst long")
    got = {r.node_id: (r.hub, r.auth) for r in hits_unnormalized(e).collect()}
    assert got == {0: (4, 0), 1: (4, 0), 2: (1, 4), 3: (0, 1)}


def test_katz_exact_on_path(spark):
    from neo4j_enterprise_spark.operators.community import katz_truncated

    # path 0→1→2→3: paths ending at 1: len1=1; at 2: len1=1,len2=1;
    # at 3: len1=1,len2=1,len3=1 → nums: 16, 20, 21 (α=1/4, K=3)
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    got = {r.node_id: r.katz_num for r in katz_truncated(e).collect()}
    assert got == {0: 0, 1: 16, 2: 20, 3: 21}


def test_coloring_proper_and_complete(spark):
    from neo4j_enterprise_spark.operators.community import greedy_coloring

    und = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (6, 7)]
    edges = spark.createDataFrame(und, "a long, b long")
    got = {r.node_id: r.color for r in greedy_coloring(edges, seed=2).collect()}
    nodes = {u for e in und for u in e}
    assert set(got) == nodes                      # complete
    assert all(got[a] != got[b] for a, b in und)  # proper
    assert max(got.values()) <= 3                 # ≤ Δ+1 = 4 colors


def test_assortativity_exact_star_and_cycle(spark):
    from neo4j_enterprise_spark.operators.community import degree_assortativity

    # star K1,3 is perfectly disassortative: r = -1
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "a long, b long")
    row = degree_assortativity(star).collect()[0]
    assert row.n_edges == 3 and row.r == -1.0
    # cycle is degree-regular: denominator 0 → r is NaN (undefined)
    import math

    cyc = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "a long, b long")
    assert math.isnan(degree_assortativity(cyc).collect()[0].r)


def test_merge_rels_get_or_create_idempotent(spark):
    from neo4j_enterprise_spark.operators.mutation import merge_rels

    rels = spark.createDataFrame(
        [(10, 1, 2, 3, "IN_NATION", False), (11, 2, 3, 3, "IN_NATION", False)],
        "id long, src long, dst long, type_id int, type_name string,"
        " was_matched boolean",
    )
    cand = spark.createDataFrame(
        [(1, 2, "IN_NATION", 3), (5, 6, "FOLLOWS", 6), (5, 6, "FOLLOWS", 6)],
        "src long, dst long, type_name string, type_id int",
    )
    out = merge_rels(
        rels,
        cand,
        high_water=1000,
        on_match={"was_matched": True},
        on_create={"was_matched": False},
    )
    got = {(r.src, r.dst, r.type_name): (r.id, r.type_id, r.was_matched)
           for r in out.collect()}
    assert out.count() == 3  # duplicate candidate edge collapsed
    assert got[(1, 2, "IN_NATION")] == (10, 3, True)   # matched, id kept
    assert got[(2, 3, "IN_NATION")] == (11, 3, False)  # untouched
    assert got[(5, 6, "FOLLOWS")] == (1001, 6, False)  # created above hwm
    # idempotency: re-merging the same batch creates nothing new
    again = merge_rels(
        out, cand, high_water=2000,
        on_match={"was_matched": True}, on_create={"was_matched": False},
    )
    assert again.count() == 3
    assert {r.id for r in again.collect()} == {10, 11, 1001}


def test_betweenness_exact_tree_star_and_reject(spark):
    import pytest as _pytest

    from neo4j_enterprise_spark.operators.community import (
        betweenness_exact_tree,
    )

    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "a long, b long"
    )
    got = {r.node_id: r.bc for r in betweenness_exact_tree(star).collect()}
    # removing the hub leaves {1},{2},{3}: ordered pairs through it =
    # 3^2 - 3 = 6; leaves route nothing
    assert got[0] == 6 and got[1] == got[2] == got[3] == 0
    # two-level tree: 0-1, 1-2, 1-3 → bc(1) = 3^2 - (1+1+1)... comps
    # {0},{2},{3} → 9 - 3 = 6; bc(0)=bc(2)=bc(3)=0
    chain = spark.createDataFrame([(0, 1), (1, 2), (1, 3)], "a long, b long")
    got2 = {r.node_id: r.bc for r in betweenness_exact_tree(chain).collect()}
    assert got2[1] == 6 and got2[0] == 0
    # a 4-cycle has two shortest paths between opposite corners → reject
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "a long, b long"
    )
    with _pytest.raises(ValueError, match="parallel shortest paths"):
        betweenness_exact_tree(cyc)


def test_label_propagation_majority_and_ties(spark):
    from neo4j_enterprise_spark.operators.community import label_propagation

    # two triangles joined by one bridge edge: each triangle converges
    # to its minimum id; the bridge is outvoted
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node_id: r.label for r in label_propagation(df, rounds=4).collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]


def test_greedy_coloring_completeness_contract(spark):
    import pytest as _pytest

    from neo4j_enterprise_spark.operators.community import greedy_coloring

    # triangle needs 3 colors; budget 2 must raise, never return partial
    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "a long, b long")
    with _pytest.raises(ValueError, match="uncolored"):
        greedy_coloring(tri, max_colors=2)
    ok = {r.node_id: r.color for r in greedy_coloring(tri, max_colors=4).collect()}
    assert len(ok) == 3 and len(set(ok.values())) == 3
    # edge-free input: empty frame with the right schema, not None
    empty = spark.createDataFrame([], "a long, b long")
    out = greedy_coloring(empty)
    assert out.columns == ["node_id", "color"] and out.count() == 0


def test_betweenness_exact_tree_truncation_raises(spark):
    import pytest as _pytest

    from neo4j_enterprise_spark.operators.community import (
        betweenness_exact_tree,
    )

    # path 0-1-2-3-4-5 has diameter 5: a max_depth below it must raise
    # (silent truncation would undercount bc), at/above it must succeed
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long"
    )
    with _pytest.raises(ValueError, match="still expanding"):
        betweenness_exact_tree(path, max_depth=2)
    got = {r.node_id: r.bc for r in betweenness_exact_tree(path, max_depth=5).collect()}
    # interior node v at position p: ordered pairs = 2*p*(5-p)
    assert got[1] == 2 * 1 * 4 and got[2] == 2 * 2 * 3 and got[0] == 0
