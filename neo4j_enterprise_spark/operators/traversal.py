"""Traversal: k-hop BFS, reachability, and Pregel-style iteration.

Reference surface (SURVEY.md §2.9): the legacy ``Traverser``
(`LockableNode.java:178-201` — BFS/DFS with stop/return evaluators) and the
repair tool's fixed-depth chain exploration
(`RelationshipChainExplorer.java:39-63`).

Design: BFS = iterative frontier equi-joins with a visited-set anti-join.
Frontiers stay DataFrames end-to-end — no driver-side collection of node
ids.

Every iterative operator here and in ``community`` is written in one
superstep shape (Pregelix): vertex ⋈ message, then a combine, then halt
when no vertex is active. Loop invariants are built and checkpointed once
before the loop. ``superstep.supersteps`` runs the rounds: it cuts each
round's state with an eager local checkpoint, so neither plans nor
lineage grow with the round count, and it halts on an active-row count
observed on that checkpoint, so halting costs no extra Spark job. A state
whose frontier is part of it carries a ``fresh`` (or ``changed``) flag on
the rows the last round produced, and the loop halts when none is set.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import cut, supersteps

CHECKPOINT_EVERY = 3


def undirected(edges: DataFrame) -> DataFrame:
    """The (a, b) pairs of ``edges`` in both directions."""
    return edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def endpoints(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """The distinct ids at either end of ``edges``, as ``node_id``."""
    return (
        edges.select(F.col(a).alias("node_id"))
        .unionByName(edges.select(F.col(b).alias("node_id")))
        .distinct()
    )


def _edges(rels: DataFrame, direction: str, types: Iterable[str] | None) -> DataFrame:
    r = rels if types is None else rels.filter(F.col("type_name").isin(list(types)))
    out = r.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    if direction == "out":
        return out
    if direction == "in":
        return r.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    return undirected(out)


def bfs_reachable(
    rels: DataFrame,
    seeds: DataFrame,
    k: int,
    direction: str = "out",
    types: Iterable[str] | None = None,
    cache_edges: bool = True,
) -> DataFrame:
    """T2: nodes reachable from each seed within ≤ k hops.

    ``seeds``: one column ``seed``. Returns (seed, node_id, hops) with the
    minimal hop count ≤ k (seed itself at hops=0). Per-seed visited sets
    are kept distributed; dedup per round is a groupBy-min on
    (seed, node_id) — map-side combinable. It is ``traverse`` with no
    ``prune`` / ``emit`` predicate.

    ``cache_edges`` persists the (filtered, projected) edge set once so
    each hop re-reads memory instead of re-deriving/re-scanning the
    relationship source — the standard iterative-join optimization.
    """
    return traverse(None, rels, seeds, k, direction, types, cache_edges=cache_edges)


def traverse(
    nodes: DataFrame | None,
    rels: DataFrame,
    seeds: DataFrame,
    k: int,
    direction: str = "out",
    types: Iterable[str] | None = None,
    prune=None,
    emit=None,
    cache_edges: bool = True,
) -> DataFrame:
    """T2/X1: the legacy ``Traverser`` surface —
    ``traverse(BFS, StopEvaluator, ReturnableEvaluator, types...)``
    (`LockableNode.java:178-201`).

    ``prune``: Column predicate over node columns; nodes satisfying it are
    returned but NOT expanded (StopEvaluator.stopAt). ``emit``: Column
    predicate selecting which visited nodes are returned
    (ReturnableEvaluator). Column predicates keep evaluation JVM-side;
    arbitrary Python evaluators can be wrapped as pandas_udf booleans and
    passed the same way (the UDF is evaluated once per frontier batch).
    ``nodes`` (with an ``id`` column) is read only by those two
    predicates; without them it may be None.

    The loop state is the reached set, (seed, node_id, hops, fresh), with
    ``fresh`` on the rows the last round reached: they are the next
    frontier, and the loop halts when a round reaches none. A round
    expands the frontier and merges the candidates into the reached set
    with one groupBy-min on (seed, node_id), so a row is fresh iff its
    minimal hop count is the round's depth.
    """
    edges = _edges(rels, direction, types)
    cached = cache_edges and k > 1
    if cached:
        # pass cache_edges=False when ``rels`` is already persisted
        # upstream: a second persist here would cache the same rows twice
        edges = edges.persist()

    def hop(reached: DataFrame, depth: int) -> DataFrame:
        frontier = reached.filter("fresh")
        if prune is not None:
            hit = frontier.join(nodes, frontier["node_id"] == nodes["id"])
            frontier = hit.filter(~prune).select("seed", "node_id")
        cand = frontier.join(edges, frontier["node_id"] == edges["a"]).select(
            "seed", F.col("b").alias("node_id"), F.lit(depth).alias("hops")
        )
        return (
            reached.select("seed", "node_id", "hops")
            .unionByName(cand)
            .groupBy("seed", "node_id")
            .agg(F.min("hops").alias("hops"))
            .withColumn("fresh", F.col("hops") == depth)
        )

    seed = F.col("seed").cast("long")
    reached = seeds.select(
        seed.alias("seed"),
        seed.alias("node_id"),
        F.lit(0).alias("hops"),
        F.lit(True).alias("fresh"),
    )
    reached = supersteps(reached, hop, k, halt=F.count_if("fresh"))
    if cached:
        # the last round's cut no longer reads the edges
        edges.unpersist()
    if emit is not None:
        reached = reached.join(nodes, reached["node_id"] == nodes["id"]).filter(emit)
    return reached.select("seed", "node_id", "hops")


def dfs_preorder(
    rels: DataFrame,
    seeds: DataFrame,
    k: int,
    direction: str = "out",
    types: Iterable[str] | None = None,
    cache_edges: bool = True,
) -> DataFrame:
    """T2 DFS order: per-seed preorder ranks of EVERY node reachable by a
    simple path of ≤ k hops, children expanded in ascending node-id
    order — the DFS half of the legacy ``Traverser``'s
    ``Order.BREADTH_FIRST | DEPTH_FIRST`` surface
    (`LockableNode.java:178-201`).

    SEMANTICS NOTE (deliberate divergence): a sequential NODE_GLOBAL
    visited-set DFS with a depth cap can MISS nodes — in the diamond
    0→1, 1→2, 2→3, 0→2 with k=2, it visits 2 at depth 2 via the 0-1-2
    branch (cap reached, 3 not expanded) and later skips 2 on the 0-2
    branch because it is already visited, so 3 is never discovered.
    Whether 3 is visited depends on child expansion ORDER, i.e. on
    sequential mutable state that has no deterministic dataflow
    rendering. This operator instead ranks ALL nodes having a ≤ k-hop
    simple path (3 IS ranked, via 0-2-3), ordering them by their
    lexicographically-minimal simple path — a superset of any
    sequential depth-limited DFS visit set and equal to it when k is at
    least the longest lex-min simple path (e.g. k ≥ |V|-1).
    ``tests/test_traversal.py`` pins the diamond case.

    Declarative rendering: with sorted child expansion, DFS discovery
    order equals the lexicographic order of each node's MINIMAL simple
    path from the seed (every prefix of a lex-min simple path is itself
    the lex-min path of its endpoint, so per-node min-path relaxation
    converges exactly like distance relaxation). Paths are encoded as
    fixed-width hex strings (16 chars per node id, non-negative ids) so
    plain string MIN is path-lexicographic MIN; an id array rides along
    for the simple-path (no-revisit) membership test.

    Per round: one frontier⋈edges shuffle + one groupBy-min that merges
    the candidates into the per-node best paths, flagging improved rows
    ``fresh`` — the next round's frontier. Returns (seed, node_id,
    preorder) with preorder = 1-based rank.
    """
    edges = _edges(rels, direction, types)
    cached = cache_edges and k > 1
    if cached:
        edges = edges.persist()

    def _enc(c) -> F.Column:
        return F.format_string("%016x", c)

    def extend(best: DataFrame, _: int) -> DataFrame:
        ext = (
            best.filter("fresh")
            .join(edges, F.col("node_id") == edges["a"])
            .filter(~F.array_contains(F.col("path_arr"), F.col("b")))
            .select(
                "seed",
                F.col("b").alias("node_id"),
                F.concat(F.col("path"), _enc(F.col("b"))).alias("path"),
                F.array_append(F.col("path_arr"), F.col("b")).alias("path_arr"),
                F.lit(None).cast("string").alias("old"),
            )
        )
        return (
            best.select("seed", "node_id", "path", "path_arr", F.col("path").alias("old"))
            .unionByName(ext)
            .groupBy("seed", "node_id")
            .agg(F.min(F.struct("path", "path_arr")).alias("s"), F.min("old").alias("old"))
            .select(
                "seed",
                "node_id",
                F.col("s.path").alias("path"),
                F.col("s.path_arr").alias("path_arr"),
                (F.col("old").isNull() | (F.col("s.path") < F.col("old"))).alias("fresh"),
            )
        )

    best, _ = cut(
        seeds.select(
            F.col("seed").cast("long").alias("seed"),
            F.col("seed").cast("long").alias("node_id"),
            _enc(F.col("seed").cast("long")).alias("path"),
            F.array(F.col("seed").cast("long")).alias("path_arr"),
            F.lit(True).alias("fresh"),
        )
    )
    best = supersteps(best, extend, k, halt=F.count_if("fresh"))
    if cached:
        edges.unpersist()
    from pyspark.sql.window import Window

    w = Window.partitionBy("seed").orderBy("path")
    return best.select(
        "seed", "node_id", F.row_number().over(w).alias("preorder")
    )


def chain_explorer(rels: DataFrame, broken_rel_ids: DataFrame) -> DataFrame:
    """T3/J13: the repair tool's depth-2 chain exploration
    (`RelationshipChainExplorer.java:39-90`, `OwningNodeRelationshipChain`):
    from each suspect relationship, collect every relationship on both
    endpoint nodes' chains, then the chains of those rels' other
    endpoints — two fixed self-join rounds, unioned as a RecordSet (U1,
    `RecordSet.java` union/addAll → distinct union)."""
    suspect = broken_rel_ids.select(F.col("rel_id"))
    r = rels.select("id", "src", "dst")
    ends = (
        suspect.join(r, suspect["rel_id"] == r["id"])
        .select("rel_id", F.explode(F.array("src", "dst")).alias("node"))
    )
    round1 = ends.join(
        r.select(F.col("id").alias("found_rel"), F.explode(F.array("src", "dst")).alias("node")),
        "node",
    ).select("rel_id", "found_rel")
    ends2 = round1.join(r, round1["found_rel"] == r["id"]).select(
        "rel_id", F.explode(F.array("src", "dst")).alias("node")
    )
    round2 = ends2.join(
        r.select(F.col("id").alias("found_rel"), F.explode(F.array("src", "dst")).alias("node")),
        "node",
    ).select("rel_id", "found_rel")
    return round1.unionByName(round2).distinct()


def connected_components(rels: DataFrame, max_iter: int = 20) -> DataFrame:
    """Batch analytics: connected components via iterative label
    propagation (small-star style: every node adopts the min component id
    among itself and its neighbors until fixpoint, or for ``max_iter``
    synchronous rounds).

    Returns (node_id, component). This is the DataFrame rendering of
    GraphX's connectedComponents (the north-star analytics in SURVEY §7 M7).

    The loop invariant is the distinct undirected edge set plus one
    self-loop ``(a, a)`` per node. Round 1 needs no label frame: a node's
    label is ``min(b)`` over its rows. Every later round is one message
    join (edges ⋈ labels on ``b = node_id``) and one combine (``groupBy(a)``
    with ``min(component)``); the node's old label comes back through its
    self-loop row, so ``changed = new < old`` needs no old⋈new join. A
    NULL node id keeps a NULL label: only its own self-loop reaches it.
    """
    pairs = undirected(rels.select(F.col("src").alias("a"), F.col("dst").alias("b")))
    edges, _ = cut(
        pairs.unionByName(pairs.select("a", F.col("a").alias("b")))
        .filter(F.col("a").isNotNull() | F.col("b").isNull())
        .distinct()
    )

    def combine(labels: DataFrame, i: int) -> DataFrame:
        if i == 1:
            msgs = edges.withColumn("component", F.col("b"))
        else:
            nbr = labels.select(F.col("node_id").alias("nbr"), "component")
            msgs = edges.join(nbr, edges["b"].eqNullSafe(nbr["nbr"]))
        return (
            msgs.groupBy(F.col("a").alias("node_id"))
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("a") == F.col("b"), F.col("component"))).alias("old"),
            )
            .select("node_id", "component", (F.col("component") < F.col("old")).alias("changed"))
        )

    labels = edges.select(F.col("a").alias("node_id")).distinct()
    labels = labels.withColumn("component", F.col("node_id"))
    labels = supersteps(labels, combine, max_iter, halt=F.count_if("changed"))
    return labels.select("node_id", "component")


def _pagerank_invariants(rels: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """PageRank's loop invariants, built once: the node frame
    (node_id, dangling) and the edge list carrying its source's
    out-degree (src, dst, out_degree), both checkpointed, plus the node
    count."""
    out_deg = rels.groupBy(F.col("src").alias("node_id")).agg(
        F.count("*").alias("out_degree")
    )
    nodes, seen = cut(
        endpoints(rels, "src", "dst")
        .join(out_deg, "node_id", "left")
        .select("node_id", F.col("out_degree").isNull().alias("dangling")),
        n=F.count("*"),
    )
    edges, _ = cut(
        rels.select("src", "dst")
        .join(out_deg.withColumnRenamed("node_id", "src"), "src")
    )
    return nodes, edges, seen["n"]


def _in_contribs(ranks: DataFrame, edges: DataFrame) -> DataFrame:
    """One PageRank message round: rank / out_degree sent along every
    edge and summed per destination."""
    return (
        ranks.join(edges, ranks["node_id"] == edges["src"])
        .select(
            F.col("dst").alias("node_id"),
            (F.col("rank") / F.col("out_degree")).alias("contrib"),
        )
        .groupBy("node_id")
        .agg(F.sum("contrib").alias("in_contrib"))
    )


def _dangling_mass(ranks: DataFrame) -> DataFrame:
    """1-row frame: the summed rank of nodes without out-edges."""
    return ranks.filter("dangling").agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
    )


def pagerank(
    rels: DataFrame, iterations: int = 10, damping: float = 0.85
) -> DataFrame:
    """Batch analytics: PageRank over the directed graph (dangling mass
    redistributed uniformly). Returns (node_id, rank); ranks sum to ~N.

    A round is one message join (rank / out_degree along the edge list)
    and one combine (sum per destination); the dangling mass is a filter
    on the rank frame, and its 1-row aggregate is broadcast-crossJoined
    onto the rank update rather than read on the driver, so no driver
    action runs between rounds. The ranks are cut every ``CHECKPOINT_EVERY``
    rounds.
    """
    nodes, edges, n_total = _pagerank_invariants(rels)

    def update(ranks: DataFrame, _: int) -> DataFrame:
        return (
            nodes.join(_in_contribs(ranks, edges), "node_id", "left")
            .crossJoin(F.broadcast(_dangling_mass(ranks)))
            .select(
                "node_id",
                "dangling",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_contrib"), F.lit(0.0))
                        + F.col("dangling_mass") / F.lit(float(n_total))
                    )
                ).alias("rank"),
            )
        )

    ranks = nodes.withColumn("rank", F.lit(1.0))
    ranks = supersteps(ranks, update, iterations, every=CHECKPOINT_EVERY)
    return ranks.select("node_id", "rank")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Batch analytics: per-node triangle count + local clustering
    coefficient over an undirected simple graph given as canonical pairs
    ``(src, dst)`` with ``src < dst``, one row per edge.

    Scale path: edges are *degree-oriented* — each edge points from its
    lower-(degree, id) endpoint to the higher one — before wedge
    enumeration, so per-node out-degree is bounded by O(sqrt(m)) and the
    wedge join does O(m^1.5) work total (the arboricity bound) instead of
    sum(deg^2) on hub nodes. Wedges (u->v, u->w) close against the oriented
    edge set on (v, w); each triangle is found exactly once because the
    closing edge has a unique orientation. Three shuffles total (degree
    agg, wedge self-join on u, closing join on (v, w)); no iteration.

    Returns (node_id, degree, triangles, clustering) with
    clustering = 2*T / (deg * (deg - 1)) (0.0 when deg < 2).

    Reference surface: graph-structure analytics adjacent to the
    consistency checker's chain exploration
    (RelationshipChainExplorer.java:39-63); counting closed wedges is the
    same neighborhood-join shape applied graph-wide.
    """
    deg = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count("*").alias("degree"))
    )
    ranked = (
        edges.join(deg.select(F.col("node_id").alias("src"), F.col("degree").alias("src_deg")), "src")
        .join(deg.select(F.col("node_id").alias("dst"), F.col("degree").alias("dst_deg")), "dst")
    )
    fwd = F.struct("src_deg", "src") < F.struct("dst_deg", "dst")
    oriented = ranked.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    wedges = (
        oriented.select(F.col("u"), F.col("v"))
        .join(oriented.select(F.col("u"), F.col("v").alias("w")), "u")
        .filter(F.col("v") != F.col("w"))
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    triangles = wedges.join(closing, ["v", "w"])
    per_node = (
        triangles.select(F.explode(F.array("u", "v", "w")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_node, "node_id", "left")
        .select(
            "node_id",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                (F.coalesce(F.col("triangles"), F.lit(0)) * 2).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )

def weighted_shortest_paths(
    edges: DataFrame, seeds: DataFrame, max_dist: int
) -> DataFrame:
    """Multi-source weighted shortest paths (Bellman-Ford label
    correction): ``edges`` is a directed (src, dst, weight>0) list (feed
    both directions for undirected graphs), ``seeds`` a (seed) column of
    source nodes. Returns (node_id, dist) for every node whose minimal
    distance from ANY seed is <= ``max_dist``.

    Each round relaxes only the frontier (the nodes improved last round,
    flagged ``fresh``) — one shuffle on the join key and one groupBy-min
    that merges the candidates into the distances — and the loop runs to
    the fixpoint, which positive weights reach within |V| rounds. This is
    the DataFrame rendering of pregel-style SSSP. The traversal surface
    mirrors the reference's weighted expansion (`Traverser` over
    `LockableNode.java:178-201`) as batch dataflow.
    """

    def relax(dist: DataFrame, _: int) -> DataFrame:
        cand = (
            dist.filter("fresh")
            .join(edges, F.col("node_id") == edges["src"])
            .select(
                F.col("dst").alias("node_id"),
                (F.col("dist") + F.col("weight")).alias("dist"),
                F.lit(None).alias("old"),
            )
            .filter(F.col("dist") <= max_dist)
        )
        return (
            dist.select("node_id", "dist", F.col("dist").alias("old"))
            .unionByName(cand)
            .groupBy("node_id")
            .agg(F.min("dist").alias("dist"), F.min("old").alias("old"))
            .select(
                "node_id",
                "dist",
                (F.col("old").isNull() | (F.col("dist") < F.col("old"))).alias("fresh"),
            )
        )

    dist, _ = cut(
        seeds.select(F.col("seed").alias("node_id"))
        .distinct()
        .select("node_id", F.lit(0).cast("long").alias("dist"), F.lit(True).alias("fresh"))
    )
    dist = supersteps(dist, relax, halt=F.count_if("fresh"))
    return dist.select("node_id", "dist")


def k_core(rels: DataFrame, k: int) -> DataFrame:
    """Batch analytics: the k-core — the maximal subgraph where every
    node has degree >= k — via iterative peeling: repeatedly drop nodes
    with (undirected, deduped) degree < k and their incident edges until
    a fixpoint.

    Returns (node_id, degree) of the surviving core. Each round is one
    degree aggregation and two left joins that flag the edges at a
    low-degree endpoint ``dead``; the next round drops them. Every round
    but the last removes at least one edge, so the loop ends, at the
    round that flags none.
    """
    edges, _ = cut(
        undirected(rels.select(F.col("src").alias("a"), F.col("dst").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .withColumn("dead", F.lit(False))
    )

    def peel(edges: DataFrame, _: int) -> DataFrame:
        live = edges.filter(~F.col("dead")).select("a", "b")
        low = live.groupBy("a").agg(F.count("*").alias("degree")).filter(F.col("degree") < k)
        return (
            live.join(low.select("a", F.lit(True).alias("low_a")), "a", "left")
            .join(low.select(F.col("a").alias("b"), F.lit(True).alias("low_b")), "b", "left")
            .select("a", "b", F.coalesce("low_a", "low_b", F.lit(False)).alias("dead"))
        )

    edges = supersteps(edges, peel, halt=F.count_if("dead"))
    return edges.groupBy(F.col("a").alias("node_id")).agg(F.count("*").alias("degree"))


def hyperball(
    rels: DataFrame,
    radius: int = 2,
    direction: str = "out",
    lg_k: int = 12,
) -> DataFrame:
    """HyperBall (Boldi-Vigna): per-node neighborhood-function estimation
    by HLL-sketch propagation — |ball(v, r)| for every node at once,
    with FIXED-size per-node state.

    Each round: every node unions its sketch with its neighbors'
    sketches (one equi-join + one hll_union_agg, both keyed on the node
    id → co-partitioned on a bucketed layout). After r rounds the
    sketch of v covers exactly ball(v, r); the estimate is
    hll_sketch_estimate. This is THE way to compute
    closeness/harmonic-type centralities on a graph too big for
    per-source BFS: r shuffles total for ALL sources, 2^lg_k bytes per
    node, versus |V| BFS runs. Exact twin for error-bound tests:
    ``bfs_reachable`` counts.

    Returns (node_id, ball_size BIGINT — the rounded HLL estimate,
    deterministic for fixed input + lg_k).
    """
    edges = _edges(rels, direction, None)

    def spread(state: DataFrame, _: int) -> DataFrame:
        contrib = (
            state.join(edges, state["node_id"] == edges["b"])
            .select(F.col("a").alias("node_id"), "sketch")
        )
        return (
            state.unionByName(contrib)
            .groupBy("node_id")
            .agg(F.hll_union_agg("sketch", F.lit(True)).alias("sketch"))
        )

    state = endpoints(edges).groupBy("node_id").agg(
        F.hll_sketch_agg("node_id", F.lit(lg_k)).alias("sketch")
    )
    state = supersteps(state, spread, radius)
    return state.select(
        "node_id", F.hll_sketch_estimate("sketch").alias("ball_size")
    )


def random_walks(
    rels: DataFrame,
    seeds: DataFrame,
    length: int = 3,
    seed: int = 0,
    direction: str = "out",
) -> DataFrame:
    """Deterministic random walks (the node2vec/DeepWalk corpus
    generator): one walk per seed, each step moving to the neighbor
    that minimizes ``md5(seed|step|cur|neighbor)`` — a keyed-hash
    choice, so walks are uniform-ish per step yet fully reproducible
    (same graph + seed ⇒ same corpus; retries and speculative tasks
    are safe). Walks stop early at sinks.

    Per step: one frontier equi-join + one per-walk argmin window, both
    keyed on the walk's current node / walk id — the same co-partition
    contract as BFS. Each step's position is ``cut``: it is both the next
    step's input and a branch of the result, so left lazy every step
    would be re-derived once per later step. Returns (walk_id, step,
    node_id) with step 0 = the seed.
    """
    from pyspark.sql.window import Window

    edges = _edges(rels, direction, None)
    cur = seeds.select(
        F.col("seed").cast("long").alias("walk_id"),
        F.col("seed").cast("long").alias("node_id"),
    )
    out = cur.withColumn("step", F.lit(0))
    for step in range(1, length + 1):
        nxt = cur.join(edges, cur["node_id"] == edges["a"]).select(
            "walk_id",
            F.col("b").alias("cand"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(seed)),
                    F.lit(str(step)),
                    F.col("node_id").cast("string"),
                    F.col("b").cast("string"),
                )
            ).alias("h"),
        )
        w = Window.partitionBy("walk_id").orderBy("h", "cand")
        cur, _ = cut(
            nxt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("walk_id", F.col("cand").alias("node_id"))
        )
        out = out.unionByName(cur.withColumn("step", F.lit(step)))
    return out


def personalized_pagerank(
    rels: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport returns to the SEED set instead
    of everywhere — ranks measure proximity to the seeds (the
    recommendation / related-entities primitive). Same closed-plan
    iteration as ``pagerank`` (loop invariants built once, one message
    join and one combine per round, dangling mass and teleport both
    broadcast 1-row aggregates, no driver action between rounds); mass
    conserves at ~N.

    ``seeds``: one column ``seed``. Returns (node_id, rank).
    """
    nodes, edges, n_total = _pagerank_invariants(rels)
    seed_set = seeds.select(F.col("seed").cast("long").alias("node_id")).distinct()
    n_seeds_1row = seed_set.agg(F.count("*").alias("n_seeds"))
    is_seed = seed_set.withColumn("__is_seed", F.lit(1))

    def update(ranks: DataFrame, _: int) -> DataFrame:
        # teleport mass (1-d per node, N total) concentrates on seeds;
        # dangling mass also restarts at the seeds in personalized PR
        return (
            nodes.join(_in_contribs(ranks, edges), "node_id", "left")
            .join(F.broadcast(is_seed), "node_id", "left")
            .crossJoin(F.broadcast(_dangling_mass(ranks)))
            .crossJoin(F.broadcast(n_seeds_1row))
            .select(
                "node_id",
                "dangling",
                (
                    F.coalesce(F.col("__is_seed"), F.lit(0))
                    * (
                        F.lit((1.0 - damping) * float(n_total))
                        + F.lit(damping) * F.col("dangling_mass")
                    )
                    / F.col("n_seeds")
                    + F.lit(damping) * F.coalesce(F.col("in_contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )

    ranks = nodes.withColumn("rank", F.lit(1.0))
    ranks = supersteps(ranks, update, iterations, every=CHECKPOINT_EVERY)
    return ranks.select("node_id", "rank")
