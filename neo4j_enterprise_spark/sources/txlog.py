"""Tx-log source & replay: the commit stream as a DataFrame.

Reference surface (SURVEY.md §2.1/§2.10):
- S9 ``Master.copyTransactions(dsName, startTxId, endTxId)`` — range
  extraction from the logical log (`MasterImpl.java:494-499`,
  `ServerUtil.java:336-354`).
- S10 ``RebuildFromLogs.applyTransactionsFrom`` — rebuild a store by
  applying txs strictly in tx-id order
  (`backup/.../RebuildFromLogs.java:61-100`).
- F5 per-tx checksum (`TxChecksumVerifier.java`).

Schema (FIXTURES.md §1.8): ``txlog(tx_id, master_id, checksum, op,
entity_kind, entity_id, payload)`` with op ∈ create_node | create_rel |
set_prop | delete_node | delete_rel | remove_prop, payload = JSON args.

Replay design: one batch application is a handful of set operations —
creates are unions, deletes are anti-joins, property sets are MERGE
upserts — so replaying a log range is O(ops) shuffles, not O(txs)
(the reference applies tx-at-a-time; a columnar engine applies
log-at-a-time with identical final state because ops are keyed and the
last write per key wins via tx ordering).
``replay`` runs those shuffles when it is called: each rebuilt table
(relationships, properties, then nodes) is computed once and held as an
eager local checkpoint, the bounded-lineage rule the iterative operators
follow. The returned store is checkpoint-backed, so a consistency check
over it (a verified restore runs seven check families) scans the rebuilt
rows instead of re-running the log parse and windows per family, and a
replay on top of a replay does not nest the earlier replay's plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..graph.model import NO_POINTER, PropertyGraph
from ..operators.superstep import cut

TXLOG_SCHEMA = (
    "tx_id long, master_id int, checksum long, op string, "
    "entity_kind string, entity_id long, payload string"
)

_PAYLOAD_SCHEMA = StructType(
    [
        StructField("src", LongType()),
        StructField("dst", LongType()),
        StructField("type_id", LongType()),
        StructField("key_id", LongType()),
        StructField("value_long", LongType()),
    ]
)


from ..functions.hashing import checksum_column  # F5 per-row checksum


def export_range(txlog: DataFrame, start_tx: int, end_tx: int) -> DataFrame:
    """S9 copyTransactions(start, end) — inclusive tx-id range, in order.
    The BETWEEN predicate pushes down to the parquet scan; with the log
    written partitioned by tx-id ranges this is partition pruning."""
    return txlog.filter(F.col("tx_id").between(start_tx, end_tx)).orderBy("tx_id")


def verify_checksums(txlog: DataFrame) -> DataFrame:
    """F5/U3: rows whose stored checksum disagrees with the recomputed
    one (stream rejected before apply, `TxChecksumVerifier`)."""
    expected = checksum_column(
        F.col("tx_id"), F.col("op"), F.col("entity_kind"), F.col("entity_id"), F.col("payload")
    )
    return txlog.filter(F.col("checksum") != expected)


def replay(base: PropertyGraph, txlog: DataFrame, up_to_tx: int | None = None) -> PropertyGraph:
    """S10 RebuildFromLogs: apply the log to a base snapshot.

    Tx-order semantics are preserved per key with window argmax (last
    write wins by tx_id) instead of iterating txs — the columnar
    rendering of "apply strictly in txId order"
    (`RebuildFromLogs.java:85-100`, O3).

    Runs its Spark jobs at call time: nodes, relationships and properties
    of the result are local checkpoints of the rebuilt rows (see "Replay
    design" above); the dictionaries and graph properties pass through.
    """
    log = txlog if up_to_tx is None else txlog.filter(F.col("tx_id") <= up_to_tx)
    log = log.withColumn("args", F.from_json("payload", _PAYLOAD_SCHEMA))

    # last op per entity decides existence (create < delete by tx order)
    w_node = Window.partitionBy("entity_id").orderBy(F.desc("tx_id"))
    node_ops = (
        log.filter(F.col("entity_kind") == "node")
        .filter(F.col("op").isin("create_node", "delete_node"))
        .withColumn("rk", F.row_number().over(w_node))
        .filter(F.col("rk") == 1)
    )
    created_nodes = node_ops.filter(F.col("op") == "create_node").select(
        F.col("entity_id").alias("id"),
        F.lit(True).alias("in_use"),
        F.lit(NO_POINTER).cast("long").alias("next_rel"),
        F.lit(NO_POINTER).cast("long").alias("next_prop"),
    )
    deleted_node_ids = node_ops.filter(F.col("op") == "delete_node").select(
        F.col("entity_id").alias("id")
    )
    nodes = (
        base.nodes.join(deleted_node_ids, "id", "left_anti")
        .unionByName(created_nodes.join(base.nodes.select("id"), "id", "left_anti"))
    )

    rel_ops = (
        log.filter(F.col("entity_kind") == "rel")
        .filter(F.col("op").isin("create_rel", "delete_rel"))
        .withColumn("rk", F.row_number().over(w_node))
        .filter(F.col("rk") == 1)
    )
    created_rels = rel_ops.filter(F.col("op") == "create_rel").select(
        F.col("entity_id").alias("id"),
        F.lit(True).alias("in_use"),
        F.col("args.src").alias("src"),
        F.col("args.dst").alias("dst"),
        F.col("args.type_id").cast("int").alias("type_id"),
        *[F.lit(NO_POINTER).cast("long").alias(c) for c in ("src_prev", "src_next", "dst_prev", "dst_next")],
        F.lit(NO_POINTER).cast("long").alias("next_prop"),
    )
    deleted_rel_ids = rel_ops.filter(F.col("op") == "delete_rel").select(
        F.col("entity_id").alias("id")
    )
    rels = (
        base.relationships.join(deleted_rel_ids, "id", "left_anti")
        .unionByName(created_rels.join(base.relationships.select("id"), "id", "left_anti"))
    )
    # recompute chain pointers over the merged relationship set — the
    # derived-chain invariant (ascending id per endpoint) is restored
    # after every replay, mirroring the kernel relinking chains on write
    w_src = Window.partitionBy("src").orderBy("id")
    w_dst = Window.partitionBy("dst").orderBy("id")
    rels, _ = cut(
        rels.withColumn("src_prev", F.coalesce(F.lag("id").over(w_src), F.lit(NO_POINTER)))
        .withColumn("src_next", F.coalesce(F.lead("id").over(w_src), F.lit(NO_POINTER)))
        .withColumn("dst_prev", F.coalesce(F.lag("id").over(w_dst), F.lit(NO_POINTER)))
        .withColumn("dst_next", F.coalesce(F.lead("id").over(w_dst), F.lit(NO_POINTER)))
    )

    # property ops: last write per (owner, key) wins; remove drops the row
    w_prop = Window.partitionBy("entity_kind", "entity_id", "args.key_id").orderBy(
        F.desc("tx_id")
    )
    prop_ops = (
        log.filter(F.col("op").isin("set_prop", "remove_prop"))
        .withColumn("rk", F.row_number().over(w_prop))
        .filter(F.col("rk") == 1)
    )
    set_props = prop_ops.filter(F.col("op") == "set_prop").select(
        F.col("entity_id").alias("owner_id"),
        F.when(F.col("entity_kind") == "node", "node").otherwise("rel").alias("owner_kind"),
        F.col("args.key_id").cast("int").alias("key_id"),
        F.col("args.value_long").alias("value_long"),
        F.col("tx_id"),
    )
    removals = prop_ops.filter(F.col("op") == "remove_prop").select(
        F.col("entity_id").alias("owner_id"),
        F.when(F.col("entity_kind") == "node", "node").otherwise("rel").alias("owner_kind"),
        F.col("args.key_id").cast("int").alias("key_id"),
    )
    props = base.properties.join(removals, ["owner_kind", "owner_id", "key_id"], "left_anti")
    # upsert set_props as INT blocks; new records get ids above the high-water mark
    hwm = (base.properties.agg(F.max("id")).collect()[0][0] or -1) + 1
    existing_keys = props.select("owner_kind", "owner_id", "key_id")
    updated = (
        props.alias("old")
        .join(set_props.alias("new"), ["owner_kind", "owner_id", "key_id"], "left")
        .select(
            "owner_kind",
            "owner_id",
            "key_id",
            F.col("old.id").alias("id"),
            F.col("old.in_use").alias("in_use"),
            F.col("old.seq").alias("seq"),
            F.coalesce(
                F.when(F.col("new.tx_id").isNotNull(), F.lit("INT")), F.col("old.vtype")
            ).alias("vtype"),
            F.coalesce(F.col("new.value_long"), F.col("old.value_long")).alias("value_long"),
            F.when(F.col("new.tx_id").isNotNull(), F.lit(None).cast("string"))
            .otherwise(F.col("old.value_string"))
            .alias("value_string"),
            F.when(F.col("new.tx_id").isNotNull(), F.lit(None).cast("array<int>"))
            .otherwise(F.col("old.value_array"))
            .alias("value_array"),
        )
    )
    inserts = (
        set_props.join(existing_keys, ["owner_kind", "owner_id", "key_id"], "left_anti")
        .withColumn(
            "id",
            (
                F.row_number().over(Window.orderBy("owner_kind", "owner_id", "key_id"))
                + F.lit(hwm - 1)
            ).cast("long"),
        )
        .select(
            "owner_kind",
            "owner_id",
            "key_id",
            "id",
            F.lit(True).alias("in_use"),
            F.lit(0).alias("seq"),
            F.lit("INT").alias("vtype"),
            "value_long",
            F.lit(None).cast("string").alias("value_string"),
            F.lit(None).cast("array<int>").alias("value_array"),
        )
    )
    all_props = updated.unionByName(inserts)
    w_owner = Window.partitionBy("owner_kind", "owner_id").orderBy("id")
    all_props, _ = cut(
        all_props.withColumn(
            "prev_prop", F.coalesce(F.lag("id").over(w_owner), F.lit(NO_POINTER))
        )
        .withColumn("next_prop", F.coalesce(F.lead("id").over(w_owner), F.lit(NO_POINTER)))
        .select(
            "id", "in_use", "owner_id", "owner_kind", "prev_prop", "next_prop",
            "seq", "key_id", "vtype", "value_long", "value_string", "value_array",
        )
    )

    # refresh node first-pointers from the two checkpoints above
    first_rel = rels.filter(F.col("src_prev") == NO_POINTER).select(
        F.col("src").alias("id"), F.col("id").alias("new_next_rel")
    )
    first_prop = all_props.filter(
        (F.col("prev_prop") == NO_POINTER) & (F.col("owner_kind") == "node")
    ).select(F.col("owner_id").alias("id"), F.col("id").alias("new_next_prop"))
    nodes, _ = cut(
        nodes.join(first_rel, "id", "left")
        .join(first_prop, "id", "left")
        .select(
            "id",
            "in_use",
            F.coalesce("new_next_rel", F.lit(NO_POINTER)).alias("next_rel"),
            F.coalesce("new_next_prop", F.lit(NO_POINTER)).alias("next_prop"),
        )
    )

    return PropertyGraph(
        nodes=nodes,
        relationships=rels,
        properties=all_props,
        relationship_types=base.relationship_types,
        property_keys=base.property_keys,
        graph_props=base.graph_props,
    )


def txlog_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic commit stream derived from the ``orders`` table: one
    ``set_prop`` tx per order, writing the customer's latest order total
    into property slot ``o_orderkey % 3``.

    Unlike ``synthesize_txlog``'s hash stream (xxhash64 has no DuckDB
    twin), every field here is a plain projection of ``orders``, so
    replay results are exactly SQL-oracle-checkable (windowed
    last-write-wins per (owner, key) — `RebuildFromLogs.java:85-100`
    tx-order semantics).
    """
    from ..catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    out = o.select(
        F.col("o_orderkey").cast("long").alias("tx_id"),
        (F.col("o_orderkey") % 3).cast("int").alias("master_id"),
        F.lit(0).cast("long").alias("checksum"),
        F.lit("set_prop").alias("op"),
        F.lit("node").alias("entity_kind"),
        F.col("o_custkey").cast("long").alias("entity_id"),
        F.to_json(
            F.struct(
                F.floor(F.col("o_totalprice")).cast("long").alias("value_long"),
                (F.col("o_orderkey") % 3).cast("long").alias("key_id"),
            )
        ).alias("payload"),
    )
    return out.withColumn(
        "checksum",
        checksum_column(
            F.col("tx_id"), F.col("op"), F.col("entity_kind"), F.col("entity_id"), F.col("payload")
        ),
    )


def base_graph_from_customers(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """Base snapshot for replay oracles: one node per customer carrying a
    single INT property (key 0 = floor(acctbal)), no relationships. A
    plain projection of ``customer`` with an exact SQL twin."""
    from ..catalog import load_table

    c = load_table(spark, sf_dir, "customer")
    props = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.lit(True).alias("in_use"),
        F.col("c_custkey").cast("long").alias("owner_id"),
        F.lit("node").alias("owner_kind"),
        F.lit(NO_POINTER).cast("long").alias("prev_prop"),
        F.lit(NO_POINTER).cast("long").alias("next_prop"),
        F.lit(0).alias("seq"),
        F.lit(0).cast("int").alias("key_id"),
        F.lit("INT").alias("vtype"),
        F.floor(F.col("c_acctbal")).cast("long").alias("value_long"),
        F.lit(None).cast("string").alias("value_string"),
        F.lit(None).cast("array<int>").alias("value_array"),
    )
    nodes = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.lit(True).alias("in_use"),
        F.lit(NO_POINTER).cast("long").alias("next_rel"),
        F.col("c_custkey").cast("long").alias("next_prop"),
    )
    empty_rels = spark.createDataFrame(
        [],
        "id long, in_use boolean, src long, dst long, type_id int, "
        "src_prev long, src_next long, dst_prev long, dst_next long, next_prop long",
    )
    rel_types = spark.createDataFrame([], "id int, in_use boolean, name string")
    prop_keys = spark.createDataFrame(
        [(i, True, f"k{i}") for i in range(3)], "id int, in_use boolean, name string"
    )
    return PropertyGraph(
        nodes=nodes,
        relationships=empty_rels,
        properties=props,
        relationship_types=rel_types,
        property_keys=prop_keys,
    )


def synthesize_txlog(
    spark: SparkSession, n_txs: int = 100, base_nodes: int = 1000, seed: int = 42
) -> DataFrame:
    """Deterministic tx stream for tests/benchmarks: a mix of node
    creates, property sets, and deletes keyed off a seeded hash."""
    df = spark.range(n_txs).select(F.col("id").alias("tx_id"))
    h = F.abs(F.xxhash64(F.lit(seed), F.col("tx_id")))
    op = (
        F.when(h % 10 < 4, F.lit("create_node"))
        .when(h % 10 < 8, F.lit("set_prop"))
        .otherwise(F.lit("delete_node"))
    )
    entity = F.when(op == "create_node", F.col("tx_id") + base_nodes).otherwise(
        h % base_nodes
    )
    payload = F.when(
        op == "set_prop",
        F.to_json(F.struct((h % 16).alias("value_long"), (h % 3).alias("key_id"))),
    ).otherwise(F.lit("{}"))
    out = df.select(
        "tx_id",
        (h % 3).cast("int").alias("master_id"),
        F.lit(0).cast("long").alias("checksum"),
        op.alias("op"),
        F.lit("node").alias("entity_kind"),
        entity.cast("long").alias("entity_id"),
        payload.alias("payload"),
    )
    return out.withColumn(
        "checksum",
        checksum_column(F.col("tx_id"), F.col("op"), F.col("entity_kind"), F.col("entity_id"), F.col("payload")),
    )
