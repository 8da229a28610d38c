"""Mutation & versioning: batch writes, deterministic id assignment,
snapshot lineage.

Reference surface:
- P2 ``setProperty`` batches (`LockableNode.java:81-89`).
- Id allocation: the master hands out 1000-id ranges
  (`MasterImpl.java:75,406-412`, `IdAllocation.java:25-57`,
  `HaIdGeneratorFactory.java:129-200`) — here a window over the current
  high-water mark assigns dense ids with no coordinator at all.
- Tx ordering: strictly increasing tx ids, applied in order
  (`MasterImpl.java:414-440`, O3).
- Branched lineage: ``BranchedDataPolicy`` keep_all/keep_last/keep_none
  (`ha/.../BranchedDataPolicy.java:30-66`) over snapshot versions.

Writes never mutate in place: each batch produces snapshot version
``v<txid>`` (snapshot isolation replaces the reference's distributed
lock manager — SURVEY §3.1 translation).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def assign_ids(df: DataFrame, high_water: int, order_cols: list[str]) -> DataFrame:
    """Deterministic dense id assignment above the high-water mark.

    ``row_number() + hwm`` over a total order — the Spark-native
    replacement for ALLOCATE_IDS RPC batches. The single global window is
    intentional: id assignment is a once-per-batch metadata step, not a
    hot path (and the reference serializes through one master anyway).
    """
    w = Window.orderBy(*order_cols)
    return df.withColumn("id", (F.row_number().over(w) + F.lit(high_water)).cast("long"))


def upsert_properties(props: DataFrame, updates: DataFrame) -> DataFrame:
    """P2 batch setProperty: MERGE-style upsert keyed by
    (owner_kind, owner_id, key_id) — replaces matching blocks, appends new
    ones. One co-partitioned full-outer join."""
    key = ["owner_kind", "owner_id", "key_id"]
    merged = props.alias("old").join(updates.alias("new"), key, "full_outer")
    pick = lambda c: F.coalesce(F.col(f"new.{c}"), F.col(f"old.{c}"))  # noqa: E731
    cols = [c for c in props.columns if c not in key]
    return merged.select(*key, *[pick(c).alias(c) for c in cols])


# --- snapshot lineage (BranchedDataPolicy analog) -----------------------

_VERSION_RE = re.compile(r"^v(\d+)$")


def list_versions(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        m = _VERSION_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def branched_data_policy(root: str, policy: str = "keep_all") -> list[int]:
    """Apply the branch policy to snapshot lineage
    (`BranchedDataPolicy.java:30-66`): keep_all archives everything,
    keep_last keeps only the newest version, keep_none removes all local
    versions (full re-copy expected). Returns surviving versions."""
    versions = list_versions(root)
    if policy == "keep_all" or not versions:
        return versions
    survivors = versions[-1:] if policy == "keep_last" else []
    for v in versions:
        if v not in survivors:
            shutil.rmtree(os.path.join(root, f"v{v}"))
    return survivors


def merge_nodes(
    nodes: DataFrame,
    candidates: DataFrame,
    *,
    match_keys: list[str],
    high_water: int,
    on_match: dict[str, object] | None = None,
    on_create: dict[str, object] | None = None,
) -> DataFrame:
    """Bulk Cypher-MERGE over the node store: get-or-create each
    candidate row by ``match_keys``, applying ON MATCH setters to hits
    and ON CREATE setters (plus fresh ids above ``high_water``) to
    misses. Returns the post-merge node store.

    The reference's idiom is per-node ``getOrCreate`` under the lock
    manager (`LockableNode.java` setProperty after acquire); batched on
    Spark it is one left-anti + one left-semi equi-join on the merge
    key — no locks, snapshot-in/snapshot-out. New ids are dense above
    the high-water mark via :func:`assign_ids` (the ALLOCATE_IDS
    shadow; global window — a once-per-batch metadata step).

    Setter values are literals (or Columns); ON MATCH/ON CREATE columns
    must already exist in the node schema so the union stays aligned.
    """
    on_match = on_match or {}
    on_create = on_create or {}
    # MERGE is per-KEY get-or-create: duplicate candidate rows for one
    # key must not create duplicate nodes. Deterministic dedup — keep
    # the first row per key under a total order over all columns (the
    # window runs on the candidate batch, which is metadata-sized).
    other = [c for c in candidates.columns if c not in match_keys]
    if other:
        w = Window.partitionBy(*match_keys).orderBy(*other)
        candidates = (
            candidates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        candidates = candidates.distinct()
    hit_keys = candidates.select(*match_keys).distinct()
    matched = nodes.join(F.broadcast(hit_keys), match_keys, "left_semi")
    untouched = nodes.join(F.broadcast(hit_keys), match_keys, "left_anti")
    for c, v in on_match.items():
        matched = matched.withColumn(c, v if isinstance(v, Column) else F.lit(v))
    existing_keys = nodes.select(*match_keys).distinct()
    created = candidates.join(F.broadcast(existing_keys), match_keys, "left_anti")
    created = assign_ids(created.drop("id"), high_water, match_keys)
    for c, v in on_create.items():
        created = created.withColumn(c, v if isinstance(v, Column) else F.lit(v))
    for c in nodes.columns:
        if c not in created.columns:
            created = created.withColumn(c, F.lit(None))
    created = created.select(*nodes.columns)
    return untouched.unionByName(matched.select(*nodes.columns)).unionByName(created)


def merge_rels(
    rels: DataFrame,
    candidates: DataFrame,
    *,
    match_keys: list[str] | None = None,
    high_water: int,
    on_match: dict[str, object] | None = None,
    on_create: dict[str, object] | None = None,
) -> DataFrame:
    """Bulk Cypher ``MERGE (a)-[r:T]->(b)`` over the relationship store:
    get-or-create each candidate edge by ``match_keys`` (default
    ``(src, dst, type_name)``), applying ON MATCH setters to existing
    edges and ON CREATE setters (plus fresh ids above ``high_water``)
    to new ones. Returns the post-merge relationship store.

    The reference's HA test workloads create relationships idempotently
    under the lock manager (`ha/src/test/java/slavetest/
    CommonJobs.java:102-140` — getOrCreate then setProperty); batched on
    Spark it is the same left-semi/left-anti pair as :func:`merge_nodes`
    but WITHOUT a forced broadcast: an edge batch can be fact-sized, so
    the merge key drives an ordinary shuffle join and AQE picks
    broadcast when the batch is small. Duplicate candidate edges for one
    key collapse to one created edge (MERGE semantics), deterministically.

    Setter values are literals or Columns; setter columns must already
    exist in the relationship schema so the union stays aligned.
    """
    match_keys = list(match_keys or ("src", "dst", "type_name"))
    on_match = on_match or {}
    on_create = on_create or {}
    other = [c for c in candidates.columns if c not in match_keys]
    if other:
        w = Window.partitionBy(*match_keys).orderBy(*other)
        candidates = (
            candidates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        candidates = candidates.distinct()
    hit_keys = candidates.select(*match_keys).distinct()
    matched = rels.join(hit_keys, match_keys, "left_semi")
    untouched = rels.join(hit_keys, match_keys, "left_anti")
    for c, v in on_match.items():
        matched = matched.withColumn(c, v if isinstance(v, Column) else F.lit(v))
    existing_keys = rels.select(*match_keys).distinct()
    created = candidates.join(existing_keys, match_keys, "left_anti")
    created = assign_ids(created.drop("id"), high_water, match_keys)
    for c, v in on_create.items():
        created = created.withColumn(c, v if isinstance(v, Column) else F.lit(v))
    for c in rels.columns:
        if c not in created.columns:
            created = created.withColumn(c, F.lit(None))
    created = created.select(*rels.columns)
    return untouched.unionByName(matched.select(*rels.columns)).unionByName(created)
