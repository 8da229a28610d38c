"""Graph-structure analytics: neighborhood similarity, strongly
connected components, and condensation (DAG-of-SCCs) layering.

Extends the batch-analytics family beside ``traversal`` (connected
components, PageRank, k-core — SURVEY §2.9 ext.): the reference's
traversal surface (`LockableNode.java:178-201` navigation) plus its HA
topology reasoning (`ClusterManager` member graphs) motivate structural
queries over directed graphs; these are their Spark-first renderings.

Scale notes
-----------
- Every loop here runs on ``superstep.supersteps``, in the superstep shape
  stated in ``traversal``: invariants checkpointed once, each round's
  state cut, and the halt read off that cut as an observed count of the
  rows the round changed, at no extra Spark job.
- ``neighborhood_jaccard`` is the inverted-index self-join: pair
  candidates come only from shared neighbors, so cost is
  sum(d(n)^2) over neighbor nodes — bounded by dropping hub neighbors
  above ``max_neighbor_degree`` (the standard stop-word cut; degrees are
  then computed on the SAME filtered edge set so the Jaccard stays exact
  on the filtered graph). One shuffle keyed on the shared neighbor.
- ``transitive_closure`` doubles path length per round (R ∪ R·R), so a
  diameter-d graph closes in ceil(log2(d)) joins, one round each — the
  O(log d) pattern that survives wide graphs,
  vs. the O(d) rounds of one-hop propagation.
- ``strongly_connected`` / ``condensation_layers`` are meant for
  *condensed* graphs that are small relative to the input (here the
  nation-trade tournament: the heavy lifting is the revenue aggregation
  over lineitem; the closure runs on ≤ nations² pairs). For billion-node
  SCC you would peel forward/backward reachability from pivots instead;
  documented trade-off, not a silent cap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .superstep import cut, supersteps
from .traversal import endpoints, undirected


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
    Each round: one self-join shuffled on the middle node + one groupBy
    that flags the pairs new this round ``fresh``; a round with none is
    the fixpoint.
    """

    def double(reach: DataFrame, _: int) -> DataFrame:
        hop2 = (
            reach.alias("x")
            .join(reach.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(F.col("x.src").alias("src"), F.col("y.dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .withColumn("fresh", F.lit(True))
        )
        return (
            reach.withColumn("fresh", F.lit(False))
            .unionByName(hop2)
            .groupBy("src", "dst")
            .agg(F.min("fresh").alias("fresh"))
        )

    reach, _ = cut(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("fresh", F.lit(True))
    )
    reach = supersteps(reach, double, max_rounds, halt=F.count_if("fresh"))
    return reach.select("src", "dst")


def strongly_connected(edges: DataFrame, *, max_rounds: int = 6) -> DataFrame:
    """SCC labels via closure ∩ reversed closure.

    Returns (node_id, scc_id) for every node incident to an edge, where
    scc_id = min node id in the component: v and u are mutually
    reachable iff (u,v) and (v,u) are both in the closure, so
    scc_id(v) = min(v, min{u : mutual(u, v)}).
    """
    nodes = endpoints(edges, "src", "dst")
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

    def relax(dist: DataFrame, _: int) -> DataFrame:
        combo = (
            dist.alias("x")
            .join(dist.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(
                F.col("x.src").alias("src"),
                F.col("y.dst").alias("dst"),
                (F.col("x.len") + F.col("y.len")).alias("len"),
                F.lit(None).alias("old"),
            )
        )
        # max-plus lengths only grow, so a pair changed iff it is new or
        # its length grew
        return (
            dist.select("src", "dst", "len", F.col("len").alias("old"))
            .unionByName(combo)
            .groupBy("src", "dst")
            .agg(F.max("len").alias("len"), F.max("old").alias("old"))
            .withColumn("changed", F.col("old").isNull() | (F.col("len") > F.col("old")))
        )

    dist, _ = cut(cond.withColumn("len", F.lit(1)))
    dist = supersteps(dist, relax, max_rounds, halt=F.count_if("changed"))
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

    The distinct edge set is built and checkpointed once; each round is
    the wedge join shuffled on the shared neighbor and one combine (the
    support count per edge), and the round's survivors are read straight
    off that support frame — its keys are a subset of the current edges,
    and an edge with no triangle has no row — so no join back to the edge
    set runs. For k <= 2 every edge survives and the peel rounds are
    skipped.
    """
    e, _ = cut(edges.select("a", "b").filter(F.col("a") < F.col("b")).distinct())

    def support(cur: DataFrame) -> DataFrame:
        adj = undirected(cur)
        x = adj.select("a", F.col("b").alias("c"))
        y = adj.select(F.col("a").alias("b"), F.col("b").alias("c"))
        return (
            cur.join(x, "a")
            .join(y, ["b", "c"])
            .groupBy("a", "b")
            .agg(F.count("*").alias("sup"))
        )

    def peel(cur: DataFrame, _: int) -> DataFrame:
        return support(cur).filter(F.col("sup") >= k - 2).select("a", "b")

    e = supersteps(e, peel, rounds if k >= 3 else 0)
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
        communities = endpoints(e).withColumn("community", F.col("node_id"))
    adj = undirected(e).toDF("u", "v")
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
    e, _ = cut(edges.select("a", "b").filter(F.col("a") < F.col("b")).distinct())

    def move(com: DataFrame, _: int) -> DataFrame:
        return louvain_move_round(e, com).select(
            "node_id",
            F.col("new_com").alias("community"),
            (F.col("new_com") != F.col("old_com")).alias("changed"),
        )

    com = endpoints(e).withColumn("community", F.col("node_id"))
    com = supersteps(com, move, max_rounds, halt=F.count_if("changed"))
    return com.select("node_id", "community")


def _brandes(edges: DataFrame, sources: DataFrame | None, max_depth: int) -> DataFrame:
    """Brandes betweenness over the undirected simple graph of ``edges``,
    summed over ``sources`` (column ``s``), or over every node with
    exact BIGINT dependencies when ``sources`` is None.

    All sources advance TOGETHER: state is keyed (source, node), so each
    BFS level and each δ level is ONE join shuffled on the node key
    regardless of |S|. Forward pass: level-synchronous shortest-path DAG
    with path counts σ, the new level flagged ``fresh``; backward pass:
    δ(v) = Σ_w σ(v)/σ(w)·(1 + δ(w)), walked level by level from the
    deepest. The DAG's checkpoint observes the depth reached and the
    largest σ.
    """
    exact = sources is None
    e = edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
    adj, _ = cut(undirected(e).toDF("u", "v"))
    if exact:
        sources = adj.select(F.col("u").alias("s")).distinct()

    def level(visited: DataFrame, d: int) -> DataFrame:
        frontier = visited.filter("fresh")
        nxt = (
            frontier.join(adj, frontier["v"] == adj["u"])
            .groupBy("s", adj["v"].alias("w"))
            .agg(F.sum("sigma").alias("sigma"))
            .select("s", F.col("w").alias("v"), F.lit(d).alias("dist"), "sigma")
            .join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .withColumn("fresh", F.lit(True))
        )
        return visited.withColumn("fresh", F.lit(False)).unionByName(nxt)

    visited, _ = cut(
        sources.select(
            "s",
            F.col("s").alias("v"),
            F.lit(0).alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
            F.lit(True).alias("fresh"),
        )
    )
    # EXACT runs one probe level past max_depth: every (s, t) pair must be
    # reached, so a BFS still expanding there fails loudly below instead
    # of silently undercounting bc
    rounds = max_depth + 1 if exact else max_depth
    visited = supersteps(visited, level, rounds, halt=F.count_if("fresh"))

    # predecessor pairs on the shortest-path DAG: u at dist d, w at d+1
    vu = visited.select(
        "s", F.col("v").alias("u"), F.col("dist").alias("du"), F.col("sigma").alias("sig_u")
    )
    vw = visited.select(
        "s", F.col("v").alias("w"), F.col("dist").alias("dw"), F.col("sigma").alias("sig_w")
    )
    dag, seen = cut(
        vu.join(adj, "u")
        .join(vw, (F.col("v") == F.col("w")) & (vu["s"] == vw["s"]))
        .filter(F.col("dw") == F.col("du") + 1)
        .select(vu["s"], "u", "du", "sig_u", "w", "dw", "sig_w"),
        depth=F.max("dw"),
        sigma=F.max("sig_w"),
    )
    if exact and seen["depth"] > max_depth:
        raise ValueError(
            "betweenness_exact_tree: BFS still expanding past "
            f"max_depth={max_depth}; the graph's diameter exceeds the "
            "bound and the exact dependency sums would be truncated — "
            "raise max_depth (or use betweenness_sampled)"
        )
    if exact and seen["sigma"] > 1:
        raise ValueError(
            "betweenness_exact_tree: graph has parallel shortest paths "
            f"(max sigma = {seen['sigma']}); exact integer deltas need unique "
            "paths — use betweenness_sampled"
        )
    zero = F.lit(0).cast("long") if exact else F.lit(0.0)
    share = F.lit(1) if exact else F.col("sig_u").cast("double") / F.col("sig_w")
    dmax = seen["depth"]

    def total(c: Column) -> Column:
        # doubles are summed in DECIMAL and cast back once, so the sum does
        # not depend on the order rows reach the aggregate
        return F.sum(c) if exact else F.sum(c.cast("decimal(38,18)")).cast("double")

    def accumulate(delta: DataFrame, i: int) -> DataFrame:
        contrib = (
            dag.filter(F.col("du") == dmax - i)
            .join(delta.select("s", F.col("v").alias("w"), "delta"), ["s", "w"])
            .groupBy("s", F.col("u").alias("v"))
            .agg(total(share * (F.lit(1) + F.col("delta"))).alias("inc"))
        )
        return delta.join(contrib, ["s", "v"], "left").select(
            "s", "v", (F.col("delta") + F.coalesce(F.col("inc"), zero)).alias("delta")
        )

    delta = supersteps(visited.select("s", "v", zero.alias("delta")), accumulate, dmax)
    # undirected: every pair is counted from both endpoints via sources —
    # report the raw per-source sum (callers halve / normalise)
    return (
        delta.filter(F.col("s") != F.col("v"))
        .groupBy(F.col("v").alias("node_id"))
        .agg(total(F.col("delta")).alias("bc"))
    )


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
    Float ratios appear only here: each σ(v)/σ(w) share is one IEEE
    division, and the dependency and ``bc`` sums run in DECIMAL, so the
    rows do not depend on the partitioning. No oracle replays the float
    ratios (rows-only); the python-reference property test pins values.
    """
    return _brandes(edges, sources.select(F.col("source").alias("s")), max_depth)


def betweenness_exact_tree(edges: DataFrame, *, max_depth: int = 8) -> DataFrame:
    """EXACT Brandes betweenness for unique-shortest-path graphs
    (forests/hierarchies): when every σ_st = 1 the dependency recursion
    δ_s(v) = Σ_{w ∈ succ(v)} (1 + δ_s(w)) stays in BIGINTs, so the
    result is engine-exact and hash-checkable against a SQL oracle —
    the integer-δ counterpart of :func:`betweenness_sampled` (whose
    float σ-ratio accumulation keeps it rows-only). Raises
    ``ValueError`` if any σ > 1 (the graph has parallel shortest paths;
    use the sampled estimator there), or if the BFS is still expanding
    past ``max_depth`` (the sums would be truncated).

    Returns (node_id, bc BIGINT) over ALL sources: bc(v) = # ordered
    (s, t) pairs, s ≠ v ≠ t, whose unique shortest path has v strictly
    interior (halve for the undirected convention). All-pairs is
    inherently quadratic in reach — at cluster scale you run the same
    batched-multi-source machinery on a source sample.
    """
    return _brandes(edges, None, max_depth)


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
    one neighbor-min join shuffled on the node key; the state is the set
    so far (``in_mis``) plus the still-active nodes, and the loop halts
    when none is active. Returns (node_id).

    The symmetry-breaking primitive under distributed coloring /
    scheduling — the dataflow shadow of the reference's coordinator
    election (`ClusterManager` masters pick one winner per partition).
    """
    e = edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
    adj, _ = cut(undirected(e).toDF("u", "v"))
    pri = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("node_id").cast("string")))

    def luby(state: DataFrame, _: int) -> DataFrame:
        active = state.filter(~F.col("in_mis"))
        nbr_min = (
            adj.join(
                active.select(F.col("node_id").alias("v"), F.col("pri").alias("vp")),
                "v",
            )
            .groupBy(F.col("u").alias("node_id"))
            .agg(F.min("vp").alias("min_nbr"))
        )
        voted = active.join(nbr_min, "node_id", "left").select(
            "node_id",
            "pri",
            (F.col("min_nbr").isNull() | (F.col("pri") < F.col("min_nbr"))).alias("in_mis"),
        )
        # winners are never adjacent, so this drops only their neighbors
        losers = adj.join(
            voted.filter("in_mis").select(F.col("node_id").alias("u")), "u"
        ).select(F.col("v").alias("node_id"))
        return state.filter("in_mis").unionByName(voted.join(losers, "node_id", "left_anti"))

    state = adj.select(F.col("u").alias("node_id")).distinct().select(
        "node_id", pri.alias("pri"), F.lit(False).alias("in_mis")
    )
    state = supersteps(state, luby, max_rounds, halt=F.count_if(~F.col("in_mis")))
    return state.filter("in_mis").select("node_id")


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
    e, _ = cut(edges.select("src", "dst").distinct())
    nodes = endpoints(e, "src", "dst")

    def hub_auth(scores: DataFrame, _: int) -> DataFrame:
        auth = (
            e.join(scores.select(F.col("node_id").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = nodes.join(auth, "node_id", "left").select(
            "node_id", F.coalesce(F.col("auth"), F.lit(0)).alias("auth")
        )
        hub = (
            e.join(auth.select(F.col("node_id").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("node_id"))
            .agg(F.sum("auth").alias("hub"))
        )
        return auth.join(hub, "node_id", "left").select(
            "node_id", F.coalesce(F.col("hub"), F.lit(0)).alias("hub"), "auth"
        )

    scores = nodes.select(
        "node_id", F.lit(1).cast("long").alias("hub"), F.lit(0).cast("long").alias("auth")
    )
    return supersteps(scores, hub_auth, iterations)


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
    e, _ = cut(edges.select("src", "dst").distinct())
    # per node: cnt = the number of length-k paths ENDING at it (NULL when
    # none does) and num = the scaled sum over lengths so far
    walks = e.groupBy(F.col("dst").alias("node_id")).agg(F.count("*").alias("cnt"))
    walks = walks.withColumn("num", F.col("cnt") * alpha_denom ** (max_len - 1))

    def extend(walks: DataFrame, i: int) -> DataFrame:
        cnt = (
            walks.join(e.select(F.col("src").alias("node_id"), "dst"), "node_id")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.sum("cnt").alias("cnt"))
        )
        scale = alpha_denom ** (max_len - 1 - i)
        return walks.select("node_id", "num").join(cnt, "node_id", "full_outer").select(
            "node_id",
            "cnt",
            (
                F.coalesce(F.col("num"), F.lit(0))
                + F.coalesce(F.col("cnt") * scale, F.lit(0))
            ).alias("num"),
        )

    walks = supersteps(walks, extend, max_len - 1)
    denom = float(alpha_denom**max_len)
    return endpoints(e, "src", "dst").join(walks, "node_id", "left").select(
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
    simple, _ = cut(edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct())

    def peel(colored: DataFrame, i: int) -> DataFrame:
        if i > max_colors:
            raise ValueError(
                f"greedy_coloring: nodes remain uncolored after {max_colors} "
                "MIS-peel rounds; raise max_colors (needs ≥ chromatic number)"
            )
        left = colored.filter(F.col("color").isNull()).select("node_id")
        remaining = simple.join(
            left.withColumnRenamed("node_id", "a"), "a", "left_semi"
        ).join(left.withColumnRenamed("node_id", "b"), "b", "left_semi")
        # an isolated node has no uncolored neighbor left: it takes this color
        layer = maximal_independent_set(remaining, seed=seed).unionByName(
            left.join(endpoints(remaining), "node_id", "left_anti")
        )
        return colored.join(layer.withColumn("new", F.lit(i - 1)), "node_id", "left").select(
            "node_id", F.coalesce("color", "new").alias("color")
        )

    colored, _ = cut(endpoints(simple).withColumn("color", F.lit(None).cast("int")))
    # a round is only run while a node is uncolored, so a round past
    # max_colors means the budget ran out
    return supersteps(
        colored, peel, max_colors + 1, halt=F.count_if(F.col("color").isNull())
    )


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
    adj = undirected(e).toDF("u", "v")
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
    adj, _ = cut(undirected(edges).distinct())
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
