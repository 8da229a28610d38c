"""Validation suite: the consistency-check workload as join/anti-join plans.

The reference's ``FullCheck`` (`consistency-check/.../full/FullCheck.java:96-123`)
is nine sequential store scans with per-record checks whose cross-store
lookups are deferred continuations — i.e. a multi-way referential-integrity
join workload (SURVEY.md §2.3). Here every check is a declarative plan over
the graph DataFrames; Catalyst fuses scans, broadcasts the dictionary side,
and AQE handles skew. The reference's MULTI_PASS memory-bounded mode
(`MultiPassStore.java:40-170`) is exactly a partitioned hash join — free.

Violations share one schema: (record_type STRING, rule STRING, entity_id
BIGINT, detail STRING) so suites union and summarize uniformly, mirroring
``ConsistencySummaryStatistics`` (A1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

VIOLATION_COLS = ("record_type", "rule", "entity_id", "detail")


def _violation(df: DataFrame, record_type: str, rule: str, entity_id: str, detail) -> DataFrame:
    return df.select(
        F.lit(record_type).alias("record_type"),
        F.lit(rule).alias("rule"),
        F.col(entity_id).cast("long").alias("entity_id"),
        detail.cast("string").alias("detail"),
    )


def endpoints_not_in_use(rels: DataFrame, nodes: DataFrame) -> DataFrame:
    """J4: relationship endpoints must exist and be inUse.

    Reference: `RelationshipRecordCheck.java:35-37` (SOURCE/TARGET via
    ``RelationshipNodeField``), violations ``sourceNodeNotInUse`` /
    ``targetNodeNotInUse`` (`RelationshipRecordCheckTest.java:147`).

    Plan (r12, guide §2.4): ONE left-anti join of the unpivoted endpoint
    set against live nodes. The old two-join form (src anti-join ∪ dst
    anti-join) let Catalyst push the anti-join below the 5-branch rels
    union — 10 join branches, each rebuilding the live-node build side
    (its initial plan had 10 BroadcastExchanges of the same id set, 0
    reuse). Stacking (src, dst)
    into (rule, node) rows above the union blocks that pushdown: the
    probe volume is identical (2 rows per rel vs each rel probed twice)
    but the live side is built/shuffled ONCE — at 100 TB that is one
    shuffle of the node-id set instead of ten. Measured same-session
    interleaved at sf0.1: 2.93 → 1.67 s, rows bit-identical (23 761).
    """
    live = nodes.filter(F.col("in_use")).select("id")
    ep = rels.select(
        "id",
        F.expr(
            "stack(2, 'sourceNodeNotInUse', src, 'targetNodeNotInUse', dst) "
            "AS (rule, node)"
        ),
    )
    bad = ep.join(live, ep["node"] == live["id"], "left_anti")
    return bad.select(
        F.lit("RELATIONSHIP").alias("record_type"),
        F.col("rule"),
        F.col("id").cast("long").alias("entity_id"),
        F.col("node").cast("string").alias("detail"),
    )


def violations_summary(violations: DataFrame) -> DataFrame:
    """A1: ``ConsistencySummaryStatistics`` — counts per record type + rule
    (`consistency-check/.../report/ConsistencySummaryStatistics.java`)."""
    return violations.groupBy("record_type", "rule").agg(F.count("*").alias("n_violations"))


# --- chain/window checks (SURVEY §2.5) ---------------------------------


def first_in_chain(rels: DataFrame) -> DataFrame:
    """W1: the relationship a node's ``nextRel`` points at must be first in
    that node's chain (`NodeRecordCheck.java:77-83`). Chain order is
    declared as ascending rel id per src node (FIXTURES.md §2): first-in-
    chain = row_number() == 1 over that window."""
    w = Window.partitionBy("src").orderBy("id")
    return (
        rels.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") == 1)
        .select(F.col("src").alias("node_id"), F.col("id").alias("first_rel_id"))
    )


def chain_neighbors(rels: DataFrame) -> DataFrame:
    """W2: prev/next back-pointer symmetry via lag/lead
    (`RelationshipRecordCheck.java:83-200` — SOURCE_PREV/SOURCE_NEXT must
    reference back). In the linked-list-free model the chain *is* the
    window order, so the derived prev/next are consistent by construction;
    this operator materializes them for downstream symmetry checks."""
    w = Window.partitionBy("src").orderBy("id")
    return rels.select(
        "id",
        "src",
        F.lag("id").over(w).alias("prev_id"),
        F.lead("id").over(w).alias("next_id"),
    )
