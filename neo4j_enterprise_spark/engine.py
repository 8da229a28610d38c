"""User-facing facade: one object that exposes the whole engine.

A reference user's day-one surface — open a store, look up nodes, walk
relationships, run MATCH patterns, validate, back up — mapped onto the
Spark-native equivalents, so switching means swapping
``GraphDatabaseService``-style calls for these:

==============================  =======================================
reference habit                  here
==============================  =======================================
``db.getNodeById(i)``            ``eng.node(i)``
``node.getRelationships(t)``     ``eng.adjacency(i, type_name=t)``
``Traversal.description()...``   ``eng.bfs(seeds, k)`` / ``eng.match()``
consistency check CLI            ``eng.validate()``
backup CLI                       ``sources.snapshot`` (via ``graph()``)
named server queries             ``eng.query("q1_pricing_summary")``
==============================  =======================================
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .graph.derive import derived_nodes, derived_rels


class Engine:
    """Session + data directory bound together; every method returns a
    lazy DataFrame (nothing executes until the caller acts on it)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    # -- scans ----------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def nodes(self) -> DataFrame:
        return derived_nodes(self.spark, self.sf_dir)

    def rels(self) -> DataFrame:
        return derived_rels(self.spark, self.sf_dir)

    # -- point reads / traversal ---------------------------------------
    def node(self, node_id: int) -> DataFrame:
        from .operators.reads import point_lookup

        return point_lookup(self.nodes(), node_id)

    def adjacency(
        self, node_id: int, direction: str = "out", types: list[str] | None = None
    ) -> DataFrame:
        from .operators.reads import rels_of

        return rels_of(self.rels(), node_id, direction=direction, types=types)

    def bfs(self, seed_ids: list[int], k: int = 2) -> DataFrame:
        from .operators.traversal import bfs_reachable

        seeds = self.spark.createDataFrame([(int(s),) for s in seed_ids], "seed long")
        return bfs_reachable(self.rels(), seeds, k=k)

    def match(self, pattern: str, attach: dict[str, list[str]] | None = None) -> DataFrame:
        from .operators.pattern import cypher_match

        return cypher_match(self.nodes(), self.rels(), pattern, attach=attach)

    # -- validation -----------------------------------------------------
    def validate(self) -> DataFrame:
        """Endpoint + chain violations over the derived graph (the
        declared flagship); the full 20+-rule suite runs via
        ``operators.record_checks.validate`` on a ``PropertyGraph``."""
        from .operators.validation import endpoints_not_in_use

        return endpoints_not_in_use(self.rels(), self.nodes())

    # -- declared queries ----------------------------------------------
    def query(self, name: str) -> DataFrame:
        from .plans import all_queries

        try:
            q = all_queries()[name]
        except KeyError:
            raise KeyError(
                f"unknown query {name!r}; see Engine.query_names()"
            ) from None
        return q.spark(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        from .plans import all_queries

        return sorted(all_queries())

    # -- Cypher ---------------------------------------------------------
    def cypher(self, query: str) -> DataFrame:
        """Full Cypher-subset read/update queries (MATCH/OPTIONAL MATCH/
        WHERE/WITH/UNWIND/SET/CASE/shortestPath()/collect()/RETURN/
        ORDER BY/SKIP/LIMIT) compiled to one Catalyst plan."""
        from .operators.pattern import cypher_query

        return cypher_query(self.nodes(), self.rels(), query)

    # -- graph structure analytics -------------------------------------
    def similar_nodes(
        self, rel_type: str = "CONTAINS", top_k: int = 20, **kw
    ) -> DataFrame:
        """Top-k node pairs by out-neighborhood Jaccard over one
        relationship type (link prediction / recommendation)."""
        from pyspark.sql import functions as F

        from .operators.community import neighborhood_jaccard

        edges = self.rels().filter(F.col("type_name") == rel_type)
        return neighborhood_jaccard(edges, top_k=top_k, **kw)

    def scc(
        self, edges: DataFrame | None = None, *, max_rounds: int = 6
    ) -> DataFrame:
        """Strongly connected components (node_id, scc_id) of the given
        (src, dst) edges — default: the full relationship store.

        ``max_rounds`` bounds the path-doubling closure: labels are
        exact only when the graph diameter is ≤ 2**max_rounds (the
        default 6 covers diameter 64 — ample for the derived store;
        raise it for deeper caller-supplied edge sets)."""
        from .operators.community import strongly_connected

        return strongly_connected(
            edges if edges is not None else self.rels(), max_rounds=max_rounds
        )

    def merge(self, candidates: DataFrame, **kw) -> DataFrame:
        """Bulk Cypher-MERGE (get-or-create) of candidate rows into the
        node store; see mutation.merge_nodes for the key/setter knobs."""
        from .operators.mutation import merge_nodes

        return merge_nodes(self.nodes(), candidates, **kw)

    def merge_rels(self, candidates: DataFrame, **kw) -> DataFrame:
        """Bulk Cypher-MERGE over relationships: get-or-create candidate
        edges by (src, dst, type_name) with ON MATCH / ON CREATE
        setters; see mutation.merge_rels."""
        from .operators.mutation import merge_rels

        return merge_rels(self.rels(), candidates, **kw)

    # -- training-data pipeline ----------------------------------------
    def dedup_exact(self) -> DataFrame:
        from .operators.dedup import exact_dup_groups

        return exact_dup_groups(self.table("documents"))

    def dedup_near(self, **kw) -> DataFrame:
        """MinHash-LSH candidate pairs over documents."""
        from .operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(self.table("documents"), **kw)

    def ann(self, seeds: DataFrame, k: int = 5, method: str = "ivf_pq", **kw) -> DataFrame:
        """Top-k neighbors for the seed vectors: 'exact', 'lsh', 'ivf',
        'pq' or 'ivf_pq' (the production default)."""
        from .operators import similarity as sim

        emb = self.table("embeddings")
        fns = {
            "exact": sim.cosine_topk_bruteforce,
            "lsh": sim.lsh_ann_topk,
            "ivf": sim.ivf_ann_topk,
            "pq": sim.pq_ann_topk,
            "ivf_pq": sim.ivf_pq_ann_topk,
        }
        try:
            fn = fns[method]
        except KeyError:
            raise KeyError(f"unknown ANN method {method!r}; one of {sorted(fns)}") from None
        return fn(emb, seeds, k=k, **kw)

    def profile(self, table: str, columns: list[str]) -> DataFrame:
        from .operators.profile import profile as _profile

        return _profile(self.table(table), columns)
