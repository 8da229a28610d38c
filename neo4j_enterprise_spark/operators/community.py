"""Graph-structure analytics: neighborhood similarity, strongly
connected components, and condensation (DAG-of-SCCs) layering.

Extends the batch-analytics family beside ``traversal`` (connected
components, PageRank, k-core — SURVEY §2.9 ext.): the reference's
traversal surface (`LockableNode.java:178-201` navigation) plus its HA
topology reasoning (`ClusterManager` member graphs) motivate structural
queries over directed graphs; these are their Spark-first renderings.

Scale notes
-----------
- ``neighborhood_jaccard`` is the inverted-index self-join: pair
  candidates come only from shared neighbors, so cost is
  sum(d(n)^2) over neighbor nodes — bounded by dropping hub neighbors
  above ``max_neighbor_degree`` (the standard stop-word cut; degrees are
  then computed on the SAME filtered edge set so the Jaccard stays exact
  on the filtered graph). One shuffle keyed on the shared neighbor.
- ``transitive_closure`` doubles path length per round (R ∪ R·R), so a
  diameter-d graph closes in ceil(log2(d)) joins, each cut with
  localCheckpoint — the O(log d) pattern that survives wide graphs,
  vs. the O(d) rounds of one-hop propagation.
- ``strongly_connected`` / ``condensation_layers`` are meant for
  *condensed* graphs that are small relative to the input (here the
  nation-trade tournament: the heavy lifting is the revenue aggregation
  over lineitem; the closure runs on ≤ nations² pairs). For billion-node
  SCC you would peel forward/backward reachability from pivots instead;
  documented trade-off, not a silent cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def neighborhood_jaccard(
    edges: DataFrame,
    *,
    max_neighbor_degree: int | None = None,
    top_k: int = 20,
) -> DataFrame:
    """Top-k node pairs by Jaccard similarity of their out-neighbor sets.

    ``edges``: (src, dst). Returns (node_a, node_b, n_shared, deg_a,
    deg_b, jaccard) with node_a < node_b, ordered by jaccard desc then
    (node_a, node_b) — a total order, so LIMIT is deterministic.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) is ONE double division of exact
    BIGINTs (deterministic IEEE rounding on every engine); no float
    summation anywhere.
    """
    e = edges.select("src", "dst").distinct()
    if max_neighbor_degree is not None:
        keep = (
            e.groupBy("dst")
            .agg(F.count("*").alias("nd"))
            .filter(F.col("nd") <= max_neighbor_degree)
            .select("dst")
        )
        e = e.join(keep, "dst")
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    a = e.select(F.col("dst"), F.col("src").alias("node_a"))
    b = e.select(F.col("dst"), F.col("src").alias("node_b"))
    pairs = (
        a.join(b, "dst")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(deg.select(F.col("src").alias("node_a"), F.col("deg").alias("deg_a")), "node_a")
        .join(deg.select(F.col("src").alias("node_b"), F.col("deg").alias("deg_b")), "node_b")
        .withColumn(
            "jaccard",
            F.col("n_shared")
            / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared")),
        )
        .select("node_a", "node_b", "n_shared", "deg_a", "deg_b", "jaccard")
        .orderBy(F.desc("jaccard"), "node_a", "node_b")
        .limit(top_k)
    )


def transitive_closure(edges: DataFrame, *, max_rounds: int = 6) -> DataFrame:
    """Reachability closure (u, v) with u ≠ v by path-doubling:
    R_{2k} = R_k ∪ (R_k ∘ R_k). After r rounds paths up to length 2^r
    are covered, so ``max_rounds=6`` closes any graph of diameter ≤ 64.
    Each round: one self-join shuffled on the middle node + distinct.
    """
    reach = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    reach = reach.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        hop2 = (
            reach.alias("x")
            .join(reach.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(F.col("x.src").alias("src"), F.col("y.dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        new_reach = reach.unionByName(hop2).distinct().localCheckpoint(eager=True)
        if new_reach.count() == reach.count():
            reach = new_reach
            break
        reach = new_reach
    return reach


def strongly_connected(edges: DataFrame, *, max_rounds: int = 6) -> DataFrame:
    """SCC labels via closure ∩ reversed closure.

    Returns (node_id, scc_id) for every node incident to an edge, where
    scc_id = min node id in the component: v and u are mutually
    reachable iff (u,v) and (v,u) are both in the closure, so
    scc_id(v) = min(v, min{u : mutual(u, v)}).
    """
    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    reach = transitive_closure(edges, max_rounds=max_rounds)
    mutual = (
        reach.alias("f")
        .join(
            reach.alias("b"),
            (F.col("f.src") == F.col("b.dst")) & (F.col("f.dst") == F.col("b.src")),
        )
        .select(F.col("f.src").alias("node_id"), F.col("f.dst").alias("peer"))
    )
    peer_min = mutual.groupBy("node_id").agg(F.min("peer").alias("peer_min"))
    return nodes.join(peer_min, "node_id", "left").select(
        "node_id",
        F.least(F.col("node_id"), F.coalesce(F.col("peer_min"), F.col("node_id"))).alias(
            "scc_id"
        ),
    )


def condensation_layers(
    edges: DataFrame, scc: DataFrame, *, max_rounds: int = 6
) -> DataFrame:
    """Longest-path layer of every SCC in the condensation DAG.

    ``scc``: (node_id, scc_id) from :func:`strongly_connected`. The
    condensation (edges between distinct SCCs) is a DAG by construction;
    layer(C) = length of the longest condensation path ending at C
    (sources = layer 0). Computed by max-plus path doubling:
    D_{2k}(u,v) = max(D_k(u,v), max_w D_k(u,w) + D_k(w,v)) — log-rounds,
    one shuffle each. Returns (scc_id, layer).
    """
    s_src = scc.select(F.col("node_id").alias("src"), F.col("scc_id").alias("c_src"))
    s_dst = scc.select(F.col("node_id").alias("dst"), F.col("scc_id").alias("c_dst"))
    cond = (
        edges.select("src", "dst")
        .join(s_src, "src")
        .join(s_dst, "dst")
        .filter(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
    )
    dist = cond.withColumn("len", F.lit(1)).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        combo = (
            dist.alias("x")
            .join(dist.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(
                F.col("x.src").alias("src"),
                F.col("y.dst").alias("dst"),
                (F.col("x.len") + F.col("y.len")).alias("len"),
            )
        )
        new_dist = (
            dist.unionByName(combo)
            .groupBy("src", "dst")
            .agg(F.max("len").alias("len"))
            .localCheckpoint(eager=True)
        )
        # stable iff no (src, dst, len) row is new — max-plus lengths
        # only grow, so any change surfaces as a fresh triple
        stable = (
            new_dist.join(dist, ["src", "dst", "len"], "left_anti").limit(1).count()
            == 0
        )
        dist = new_dist
        if stable:
            break
    all_sccs = scc.select(F.col("scc_id")).distinct()
    layers = dist.groupBy(F.col("dst").alias("scc_id")).agg(
        F.max("len").alias("layer")
    )
    return all_sccs.join(layers, "scc_id", "left").select(
        "scc_id", F.coalesce(F.col("layer"), F.lit(0)).cast("int").alias("layer")
    )


def partition_modularity(
    edges: DataFrame,
    communities: DataFrame,
    *,
    node_col: str = "node_id",
    com_col: str = "community",
) -> DataFrame:
    """Exact modularity of a given node partition over an undirected
    graph (Newman's Q), per community.

    ``edges``: distinct undirected pairs (a, b) with a < b.
    ``communities``: (node_id, community).

    Q = Σ_c [ e_c/m − (d_c/2m)² ] = Σ_c (4·m·e_c − d_c²) / (4m²),
    so each community's contribution has the EXACT BIGINT numerator
    ``q_num`` = 4·m·e_c − d_c² over the common denominator 4m² — no
    float accumulation; the per-row ``q_contrib`` and the repeated
    ``q_total`` are single IEEE divisions of exact integers. (At
    planetary edge counts the numerator needs DECIMAL(38,0) — the
    one-line widening is documented rather than silently applied.)

    One shuffle for degrees, one for intra-community edge counts, a
    1-row m broadcast; communities table is dimension-sized.
    """
    e = edges.select(F.col("a"), F.col("b")).filter(F.col("a") < F.col("b")).distinct()
    m = e.agg(F.count("*").alias("m"))
    deg = (
        e.select(F.col("a").alias(node_col))
        .unionByName(e.select(F.col("b").alias(node_col)))
        .groupBy(node_col)
        .agg(F.count("*").alias("deg"))
    )
    ca = communities.select(
        F.col(node_col).alias("a"), F.col(com_col).alias("com_a")
    )
    cb = communities.select(
        F.col(node_col).alias("b"), F.col(com_col).alias("com_b")
    )
    intra = (
        e.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("com_a") == F.col("com_b"))
        .groupBy(F.col("com_a").alias(com_col))
        .agg(F.count("*").alias("e_c"))
    )
    dsum = (
        communities.join(deg, node_col, "left")
        .groupBy(com_col)
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.coalesce(F.col("deg"), F.lit(0))).alias("d_c"),
        )
    )
    per = (
        dsum.join(intra, com_col, "left")
        .withColumn("e_c", F.coalesce(F.col("e_c"), F.lit(0)))
        .crossJoin(F.broadcast(m))
        .withColumn(
            "q_num", 4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c")
        )
        .withColumn(
            "q_contrib",
            F.col("q_num").cast("double") / (4.0 * F.col("m") * F.col("m")),
        )
    )
    total = per.groupBy().agg(
        F.sum("q_num").alias("q_total_num"), F.first("m").alias("m2")
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            com_col,
            "n_nodes",
            "e_c",
            "d_c",
            "q_num",
            "q_contrib",
            (
                F.col("q_total_num").cast("double")
                / (4.0 * F.col("m2") * F.col("m2"))
            ).alias("q_total"),
        )
    )


def ktruss_peel(edges: DataFrame, *, k: int, rounds: int = 2) -> DataFrame:
    """Bounded k-truss peeling (dense-subgraph mining): ``rounds`` times,
    delete every edge whose triangle support (common-neighbor count) is
    below k−2; return the surviving edges with their support recomputed
    on the surviving graph.

    ``edges``: undirected distinct pairs (a, b), a < b. Bounded rounds
    keep the operator a FIXED composition of joins so an unrolled SQL
    oracle can replay it exactly; run more rounds for a fixpoint —
    convergence is reached when a round deletes nothing (the classic
    truss decomposition runs O(max support) rounds; sparse real graphs
    converge in a handful).

    Superstep shape: the distinct edge set is built and checkpointed
    once; each round is the wedge join shuffled on the shared neighbor
    and one combine (the support count per edge), and the round's
    survivors are read straight off that support frame — its keys are a
    subset of the current edges, and an edge with no triangle has no
    row — so no join back to the edge set runs. For k <= 2 every edge
    survives and the peel rounds are skipped.
    """
    e = edges.select("a", "b").filter(F.col("a") < F.col("b")).distinct()
    e = e.localCheckpoint(eager=True)

    def support(cur: DataFrame) -> DataFrame:
        adj = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        x = adj.select(F.col("u").alias("a"), F.col("v").alias("c"))
        y = adj.select(F.col("u").alias("b"), F.col("v").alias("c"))
        return (
            cur.join(x, "a")
            .join(y, ["b", "c"])
            .groupBy("a", "b")
            .agg(F.count("*").alias("sup"))
        )

    for _ in range(rounds if k >= 3 else 0):
        e = (
            support(e)
            .filter(F.col("sup") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    final = support(e)
    return (
        e.join(final, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("sup"), F.lit(0)).alias("support"),
        )
    )


def louvain_move_round(
    edges: DataFrame, communities: DataFrame | None = None
) -> DataFrame:
    """One synchronous Louvain phase-1 move round, engine-exact.

    ``edges``: undirected distinct pairs (a, b), a < b. ``communities``:
    (node_id, community) — default: singletons (community = node_id),
    the canonical Louvain start. Every node evaluates moving into each
    neighbor community (or staying): the modularity gain ordering
    ΔQ(C) ∝ k_in(C)/m − Σtot(C)·k_i/(2m²) is decided by the EXACT
    BIGINT score  f(C) = 2m·k_in(C) − Σtot′(C)·k_i  (Σtot′ excludes the
    node itself when C is its current community) — no float appears
    anywhere, so the argmax (tiebreak: smaller community id) is
    bit-deterministic and an SQL oracle replays the round verbatim.

    Returns (node_id, old_com, new_com, score_num). Iterating rounds +
    graph condensation gives full Louvain; one exact round is the
    verifiable unit (the same contract as ktruss_peel's bounded rounds).
    One shuffle for degrees, one for (node, neighbor-community) gains,
    dimension-sized community sums.
    """
    e = edges.select("a", "b").filter(F.col("a") < F.col("b")).distinct()
    if communities is None:
        communities = (
            e.select(F.col("a").alias("node_id"))
            .unionByName(e.select(F.col("b").alias("node_id")))
            .distinct()
            .withColumn("community", F.col("node_id"))
        )
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = e.agg(F.count("*").alias("m"))
    deg = adj.groupBy(F.col("u").alias("node_id")).agg(F.count("*").alias("deg"))
    com = communities.select("node_id", "community")
    # k_in(u → C): edges from u into community C
    nbr_com = (
        adj.join(com.withColumnRenamed("node_id", "v"), "v")
        .groupBy(F.col("u").alias("node_id"), F.col("community").alias("cand"))
        .agg(F.count("*").alias("k_in"))
    )
    # staying is always a candidate (its k_in may be absent → 0)
    own = com.select("node_id", F.col("community").alias("cand"))
    cands = nbr_com.join(own, ["node_id", "cand"], "full_outer").select(
        "node_id", "cand", F.coalesce(F.col("k_in"), F.lit(0)).alias("k_in")
    )
    d_tot = (
        com.join(deg, "node_id", "left")
        .groupBy(F.col("community").alias("cand"))
        .agg(F.sum(F.coalesce(F.col("deg"), F.lit(0))).alias("d_tot"))
    )
    scored = (
        cands.join(com, "node_id")
        .join(d_tot, "cand")
        .join(deg, "node_id")
        .crossJoin(F.broadcast(m))
        .withColumn(
            "d_eff",
            F.when(F.col("cand") == F.col("community"), F.col("d_tot") - F.col("deg"))
            .otherwise(F.col("d_tot")),
        )
        .withColumn(
            "score_num",
            2 * F.col("m") * F.col("k_in") - F.col("d_eff") * F.col("deg"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("node_id").orderBy(F.desc("score_num"), F.asc("cand"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "node_id",
            F.col("community").alias("old_com"),
            F.col("cand").alias("new_com"),
            "score_num",
        )
    )


def louvain_communities(
    edges: DataFrame, *, max_rounds: int = 4
) -> DataFrame:
    """Louvain phase-1 to (bounded) fixpoint: iterate exact move rounds
    (:func:`louvain_move_round`) until no node moves or ``max_rounds``.

    Synchronous parallel moves can oscillate two labels A↔B forever; the
    standard symmetric-tie breaker — a node only moves to a SMALLER
    community id when scores tie — is already in the round's argmax
    (tiebreak min cand), and the loop exits when a round changes
    nothing. Returns (node_id, community). The exact-integer gain means
    every accepted round is deterministic; modularity monotonicity is
    pinned in tests via partition_modularity.
    """
    e = edges.select("a", "b").filter(F.col("a") < F.col("b")).distinct()
    e = e.localCheckpoint(eager=True)
    com = None
    for _ in range(max_rounds):
        moved = louvain_move_round(e, com)
        new_com = moved.select(
            "node_id", F.col("new_com").alias("community")
        ).localCheckpoint(eager=True)
        changed = (
            moved.filter(F.col("new_com") != F.col("old_com")).limit(1).count()
        )
        com = new_com
        if changed == 0:
            break
    return com


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    *,
    max_depth: int = 6,
) -> DataFrame:
    """Brandes betweenness centrality from a sampled source set,
    undirected. Returns (node_id, bc) — the exact Brandes contribution
    summed over the given sources (sample all nodes for exact BC; a
    uniform source sample is the standard unbiased estimator at scale).

    All sources advance TOGETHER: state is keyed (source, node), so
    each BFS level is ONE join shuffled on the node key regardless of
    |S| — the batched-multi-source form that amortizes scheduling at
    cluster scale. Forward pass: level-synchronous shortest-path DAG
    with path counts (sigma); backward pass: dependency accumulation
    delta(v) = Σ_w σ(v)/σ(w)·(1+delta(w)) walked level-by-level from
    the deepest frontier. Float ratios appear only here (like
    pagerank, the reduction order is engine-internal → rows-only
    oracle; the python-reference property test pins values).
    """
    from pyspark.sql.window import Window  # noqa: F401  (parity with siblings)

    e = edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint(eager=True)

    frontier = sources.select(
        F.col("source").alias("s"),
        F.col("source").alias("v"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=True)
    visited = frontier
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(adj, frontier["v"] == adj["u"])
            .groupBy("s", adj["v"].alias("w"))
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                "s",
                F.col("w").alias("v"),
                F.lit(d).alias("dist"),
                "sigma",
            )
            .join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt

    # predecessor pairs on the shortest-path DAG: u at dist d, w at d+1
    vu = visited.select(
        F.col("s"), F.col("v").alias("u"), F.col("dist").alias("du"),
        F.col("sigma").alias("sig_u"),
    )
    vw = visited.select(
        F.col("s"), F.col("v").alias("w"), F.col("dist").alias("dw"),
        F.col("sigma").alias("sig_w"),
    )
    dag = (
        vu.join(adj, "u")
        .join(vw, (F.col("v") == F.col("w")) & (vu["s"] == vw["s"]))
        .filter(F.col("dw") == F.col("du") + 1)
        .select(vu["s"], "u", "du", "sig_u", "w", "dw", "sig_w")
        .localCheckpoint(eager=True)
    )
    dmax = visited.agg(F.max("dist")).collect()[0][0] or 0
    # delta accumulates level by level, deepest first
    delta = visited.select("s", "v", F.lit(0.0).alias("delta"))
    for d in range(dmax - 1, -1, -1):
        contrib = (
            dag.filter(F.col("du") == d)
            .join(
                delta.select("s", F.col("v").alias("w"), F.col("delta")),
                ["s", "w"],
            )
            .groupBy("s", F.col("u").alias("v"))
            .agg(
                F.sum(
                    (F.col("sig_u").cast("double") / F.col("sig_w"))
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("inc")
            )
        )
        delta = (
            delta.join(contrib, ["s", "v"], "left")
            .select(
                "s",
                "v",
                (F.col("delta") + F.coalesce(F.col("inc"), F.lit(0.0))).alias(
                    "delta"
                ),
            )
            .localCheckpoint(eager=True)
        )
    # undirected: every pair counted from both endpoints via sources —
    # report the raw per-source sum (caller halves/normalizes as needed)
    return (
        delta.filter(F.col("s") != F.col("v"))
        .groupBy(F.col("v").alias("node_id"))
        .agg(F.sum("delta").alias("bc"))
    )


def betweenness_exact_tree(edges: DataFrame, *, max_depth: int = 8) -> DataFrame:
    """EXACT Brandes betweenness for unique-shortest-path graphs
    (forests/hierarchies): when every σ_st = 1 the dependency recursion
    δ_s(v) = Σ_{w ∈ succ(v)} (1 + δ_s(w)) stays in BIGINTs, so the
    result is engine-exact and hash-checkable against a SQL oracle —
    the integer-δ counterpart of :func:`betweenness_sampled` (whose
    float σ-ratio accumulation keeps it rows-only). Raises
    ``ValueError`` if any σ > 1 (the graph has parallel shortest paths;
    use the sampled estimator there).

    Returns (node_id, bc BIGINT) over ALL sources: bc(v) = # ordered
    (s, t) pairs, s ≠ v ≠ t, whose unique shortest path has v strictly
    interior (halve for the undirected convention). All-pairs is
    inherently quadratic in reach — at cluster scale you run the same
    batched-multi-source machinery on a source sample; every BFS level
    and every δ level is ONE join shuffled on the node key regardless
    of |S|.
    """
    e = edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
    adj = (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint(eager=True)
    )
    sources = adj.select(F.col("u").alias("s")).distinct()
    frontier = sources.select(
        "s",
        F.col("s").alias("v"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=True)
    visited = frontier
    # one probe level past max_depth: EXACT means every (s, t) pair is
    # reached, so an unconverged BFS (frontier still expanding after the
    # last permitted level) must fail loudly instead of silently
    # undercounting bc — the sigma>1 guard below cannot see truncation.
    for d in range(1, max_depth + 2):
        nxt = (
            frontier.join(adj, frontier["v"] == adj["u"])
            .groupBy("s", adj["v"].alias("w"))
            .agg(F.sum("sigma").alias("sigma"))
            .select("s", F.col("w").alias("v"), F.lit(d).alias("dist"), "sigma")
            .join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        if d > max_depth:
            raise ValueError(
                "betweenness_exact_tree: BFS still expanding past "
                f"max_depth={max_depth}; the graph's diameter exceeds the "
                "bound and the exact dependency sums would be truncated — "
                "raise max_depth (or use betweenness_sampled)"
            )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    max_sigma = visited.agg(F.max("sigma")).collect()[0][0] or 1
    if max_sigma > 1:
        raise ValueError(
            "betweenness_exact_tree: graph has parallel shortest paths "
            f"(max sigma = {max_sigma}); exact integer deltas need unique "
            "paths — use betweenness_sampled"
        )
    vu = visited.select(
        "s", F.col("v").alias("u"), F.col("dist").alias("du")
    )
    vw = visited.select(
        "s", F.col("v").alias("w"), F.col("dist").alias("dw")
    )
    dag = (
        vu.join(adj, "u")
        .join(vw, (F.col("v") == F.col("w")) & (vu["s"] == vw["s"]))
        .filter(F.col("dw") == F.col("du") + 1)
        .select(vu["s"], "u", "du", "w")
        .localCheckpoint(eager=True)
    )
    dmax = visited.agg(F.max("dist")).collect()[0][0] or 0
    delta = visited.select("s", "v", F.lit(0).cast("long").alias("delta"))
    for d in range(dmax - 1, -1, -1):
        contrib = (
            dag.filter(F.col("du") == d)
            .join(delta.select("s", F.col("v").alias("w"), "delta"), ["s", "w"])
            .groupBy("s", F.col("u").alias("v"))
            .agg(F.sum(F.lit(1) + F.col("delta")).alias("inc"))
        )
        delta = (
            delta.join(contrib, ["s", "v"], "left")
            .select(
                "s",
                "v",
                (F.col("delta") + F.coalesce(F.col("inc"), F.lit(0)))
                .cast("long")
                .alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        delta.filter(F.col("s") != F.col("v"))
        .groupBy(F.col("v").alias("node_id"))
        .agg(F.sum("delta").cast("long").alias("bc"))
    )


def maximal_independent_set(
    edges: DataFrame, *, seed: int = 0, max_rounds: int = 8
) -> DataFrame:
    """Luby's maximal-independent-set, made DETERMINISTIC: priorities
    are md5(seed|node) strings, so the classic randomized algorithm
    becomes a pure function of (graph, seed) — re-runs, retries and an
    SQL oracle all agree bit-for-bit (md5 has no ties).

    Per round: every active node whose priority beats all active
    neighbors joins the set; winners and their neighbors deactivate.
    O(log n) rounds w.h.p.; a round over an empty active set is a
    no-op, so a FIXED unroll ≥ the actual round count replays the loop
    exactly (the louvain_communities idempotency trick). Each round is
    one neighbor-min join shuffled on the node key. Returns (node_id).

    The symmetry-breaking primitive under distributed coloring /
    scheduling — the dataflow shadow of the reference's coordinator
    election (`ClusterManager` masters pick one winner per partition).
    """
    e = edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint(eager=True)
    pri = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("node_id").cast("string")))
    active = (
        adj.select(F.col("u").alias("node_id")).distinct().withColumn("pri", pri)
    ).localCheckpoint(eager=True)
    mis = None
    for _ in range(max_rounds):
        if active.limit(1).count() == 0:
            break
        nbr_min = (
            adj.join(
                active.select(F.col("node_id").alias("v"), F.col("pri").alias("vp")),
                "v",
            )
            .groupBy(F.col("u").alias("node_id"))
            .agg(F.min("vp").alias("min_nbr"))
        )
        winners = (
            active.join(nbr_min, "node_id", "left")
            .filter(F.col("min_nbr").isNull() | (F.col("pri") < F.col("min_nbr")))
            .select("node_id")
            .localCheckpoint(eager=True)
        )
        mis = winners if mis is None else mis.unionByName(winners)
        killed = winners.unionByName(
            adj.join(winners.withColumnRenamed("node_id", "u"), "u")
            .select(F.col("v").alias("node_id"))
            .distinct()
        ).distinct()
        active = active.join(killed, "node_id", "left_anti").localCheckpoint(
            eager=True
        )
    out = mis if mis is not None else active.select("node_id").limit(0)
    return out.localCheckpoint(eager=True)


def hits_unnormalized(edges: DataFrame, *, iterations: int = 2) -> DataFrame:
    """HITS hub/authority scores, kept in EXACT integers by skipping
    the per-round normalization (ranking is invariant to it): with
    h₀ ≡ 1,  aₖ = Aᵀhₖ₋₁,  hₖ = A aₖ — every score is a path COUNT
    (a₁ = in-degree, h₁ = Σ authorities pointed to, …), so the result
    is BIGINT-exact and an SQL oracle replays the unrolled rounds.
    Normalize at the consumer (one division) if scores must be [0,1].

    ``edges``: directed (src, dst). Returns (node_id, hub, auth).
    Each half-round is one shuffle keyed on the join endpoint.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    h = nodes.withColumn("hub", F.lit(1).cast("long"))
    a = None
    for _ in range(iterations):
        a = (
            e.join(h.select(F.col("node_id").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum("hub").alias("auth"))
        )
        a = nodes.join(a, "node_id", "left").select(
            "node_id", F.coalesce(F.col("auth"), F.lit(0)).alias("auth")
        )
        h = (
            e.join(a.select(F.col("node_id").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("node_id"))
            .agg(F.sum("auth").alias("hub"))
        )
        h = nodes.join(h, "node_id", "left").select(
            "node_id", F.coalesce(F.col("hub"), F.lit(0)).alias("hub")
        )
        h = h.localCheckpoint(eager=True)
    return h.join(a, "node_id").select("node_id", "hub", "auth")


def katz_truncated(
    edges: DataFrame, *, max_len: int = 3, alpha_denom: int = 4
) -> DataFrame:
    """Truncated Katz centrality, engine-exact: katz(v) = Σₖ αᵏ·pₖ(v)
    for path lengths k ≤ K, with α = 1/alpha_denom. Path counts pₖ are
    exact integers (k adjacency joins); scaling by alpha_denom^K gives
    the single BIGINT numerator  Σₖ alpha_denom^(K−k)·pₖ(v)  — the one
    reported float is num / alpha_denom^K (one IEEE division).

    Returns (node_id, katz_num, katz). K joins shuffled on the node
    key; truncation is the standard scale trade (full Katz inverts
    (I−αA) — not a dataflow op).
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    # walks(v) at step k: number of length-k paths ENDING at v
    walks = e.select(F.col("src"), F.col("dst")).withColumn(
        "n", F.lit(1).cast("long")
    )
    scale = alpha_denom ** (max_len - 1)
    total = (
        walks.groupBy(F.col("dst").alias("node_id"))
        .agg(F.sum("n").alias("p"))
        .select("node_id", (F.col("p") * scale).alias("num"))
    )
    frontier = walks.groupBy(F.col("dst").alias("node_id")).agg(
        F.sum("n").alias("cnt")
    )
    for k in range(2, max_len + 1):
        frontier = (
            frontier.join(
                e.select(F.col("src").alias("node_id"), "dst"), "node_id"
            )
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum("cnt").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        scale = alpha_denom ** (max_len - k)
        total = (
            total.join(
                frontier.select("node_id", (F.col("cnt") * scale).alias("add")),
                "node_id",
                "full_outer",
            )
            .select(
                "node_id",
                (
                    F.coalesce(F.col("num"), F.lit(0))
                    + F.coalesce(F.col("add"), F.lit(0))
                ).alias("num"),
            )
        )
    denom = float(alpha_denom**max_len)
    return nodes.join(total, "node_id", "left").select(
        "node_id",
        F.coalesce(F.col("num"), F.lit(0)).alias("katz_num"),
        (F.coalesce(F.col("num"), F.lit(0)).cast("double") / denom).alias("katz"),
    )


def greedy_coloring(
    edges: DataFrame, *, seed: int = 0, max_colors: int = 12
) -> DataFrame:
    """Distributed graph coloring by iterated MIS peeling: color c =
    the c-th deterministic Luby MIS extracted from the still-uncolored
    subgraph. Independence of each layer makes the coloring proper by
    construction; determinism comes from the md5 priorities (same
    contract as :func:`maximal_independent_set`). Returns
    (node_id, color). Uses at most Δ+1 colors on bounded-degree
    graphs in O(Δ·log n) rounds — the scheduling/register-allocation
    primitive over shuffle-join rounds.

    Completeness is enforced: if nodes remain uncolored after
    ``max_colors`` peel rounds (graph chromatic number exceeds the
    budget), raises ``ValueError`` rather than silently returning a
    partial coloring. An edge-free input yields an empty (node_id,
    color) frame, never ``None``.
    """
    remaining = (
        edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
    ).localCheckpoint(eager=True)
    nodes = (
        remaining.select(F.col("a").alias("node_id"))
        .unionByName(remaining.select(F.col("b").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    colored = None
    for c in range(max_colors):
        if nodes.limit(1).count() == 0:
            break
        if remaining.limit(1).count() == 0:
            # isolated remainder: all one color
            layer = nodes.withColumn("color", F.lit(c))
            colored = layer if colored is None else colored.unionByName(layer)
            nodes = nodes.limit(0)
            break
        mis = maximal_independent_set(remaining, seed=seed)
        isolated = nodes.join(
            remaining.select(F.col("a").alias("node_id"))
            .unionByName(remaining.select(F.col("b").alias("node_id")))
            .distinct(),
            "node_id",
            "left_anti",
        )
        layer = mis.unionByName(isolated).withColumn("color", F.lit(c))
        colored = layer if colored is None else colored.unionByName(layer)
        done = layer.select("node_id")
        nodes = nodes.join(done, "node_id", "left_anti").localCheckpoint(eager=True)
        remaining = (
            remaining.join(done.withColumnRenamed("node_id", "a"), "a", "left_anti")
            .join(done.withColumnRenamed("node_id", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    if colored is None:
        # edge-free input: stable empty frame, not None
        return nodes.withColumn("color", F.lit(0)).limit(0)
    leftover = nodes.limit(1).count()
    if leftover:
        raise ValueError(
            f"greedy_coloring: nodes remain uncolored after {max_colors} "
            "MIS-peel rounds; raise max_colors (needs ≥ chromatic number)"
        )
    return colored


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman r) of an undirected
    graph, from EXACT integer sufficient statistics: over the 2m
    directed edge-stubs with endpoint degrees (x, y), accumulate
    Σx, Σy, Σxy, Σx², Σy² as BIGINTs, then evaluate the Pearson
    formula in a FIXED float expression order (each cast/multiply/
    sqrt/divide is a single deterministic IEEE op). Returns one row
    (n_edges, sxy, sx, sx2, r) — the homophily diagnostic that says
    whether hubs attach to hubs.
    """
    e = edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("node_id")).agg(F.count("*").alias("deg"))
    stubs = (
        adj.join(deg.select(F.col("node_id").alias("u"), F.col("deg").alias("x")), "u")
        .join(deg.select(F.col("node_id").alias("v"), F.col("deg").alias("y")), "v")
    )
    s = stubs.agg(
        F.count("*").alias("m2"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    # symmetric stubs → Σx = Σy and Σx² = Σy²; r collapses to
    # (m2·sxy − sx²) / (m2·sx2 − sx²). The sums are exact BIGINTs; cast
    # each FACTOR to double before multiplying (products can pass 2^63 on
    # big graphs — double keeps them exact to 2^53 and the op order is
    # fixed, so both engines round identically)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("m2") * d("sxy") - d("sx") * d("sx")
    den = d("m2") * d("sx2") - d("sx") * d("sx")
    # degree-regular graph → zero degree variance → r undefined: den=0
    # forces num=0 (|cov| ≤ var), report NaN like IEEE 0/0 instead of
    # tripping ANSI-mode divide-by-zero
    r = F.when(den == 0.0, F.lit(float("nan"))).otherwise(num / den)
    return s.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        "sxy",
        "sx",
        "sx2",
        r.alias("r"),
    )


def label_propagation(edges: DataFrame, *, rounds: int) -> DataFrame:
    """Synchronous label-propagation community detection, engine-exact:
    labels start as node ids; each round every node adopts the most
    frequent label among its NEIGHBORS, ties broken by the smaller
    label. Counts are exact BIGINTs and the argmax order
    (count desc, label asc) is total, so a FIXED unroll is
    bit-deterministic and an SQL oracle replays the rounds verbatim —
    the same verifiable-unit contract as ``louvain_move_round`` and
    ``maximal_independent_set`` (full LPA = iterate to stability).

    ``edges`` (a, b) are read as undirected and deduplicated; a
    self-loop (a, a) makes a its own neighbor, so it votes for its own
    label. Returns (node_id, label). Each round is one adjacency join
    shuffled on the node key + one map-side-combinable (node, label)
    count + one argmax aggregation — no windows, no driver actions; at
    cluster scale rounds are the only sequential barrier (O(diameter)
    for convergence, fixed here).

    The reference's cluster-membership gossip converges the same way
    (members adopt the majority view of their peers —
    `ha/.../ClusterManager` member lists); on the analytics side LPA
    is the cheap community baseline beside Louvain.
    """
    e = edges.select("a", "b")
    adj = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = adj.select(F.col("a").alias("node_id")).distinct().select(
        "node_id", F.col("node_id").alias("label")
    )
    for _ in range(rounds):
        nbr = (
            adj.join(labels.select(F.col("node_id").alias("b"), "label"), "b")
            .groupBy(F.col("a").alias("node_id"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax by (cnt desc, label asc) without a window: min of the
        # struct (-cnt, label) is the lexicographic winner
        labels = nbr.groupBy("node_id").agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), "label"))["label"].alias("label")
        )
    return labels
