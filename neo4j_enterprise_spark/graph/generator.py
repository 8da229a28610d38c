"""Deterministic graph fixture generator (S11).

Re-expresses the reference's perf-test generator
(`enterprise-performance-tests/.../generator/DataGenerator.java:55-101,
139-188`, `RelationshipSpec.java:26-45`, `PropertyGenerator.java:22-71`)
as pure Spark plans: ``spark.range`` + hash-based pseudo-randomness, no
driver-side loops, so the same spec generates 1k nodes locally or 10M+ on
a cluster with identical per-row values (seeded xxhash64, not ``F.rand``).

Shapes mirror the reference defaults: per-node relationship specs like
``{"FOO": 2, "BAR": 1}`` (`DataGenerator.java:64-65`), per-node property
specs like ``{"INTEGER": 2, "STRING": 1, "ARRAY": 1}``
(`ConsistencyPerformanceCheck.java:84`), node 0 as the reference node
(`DataGenerator.java:162-171`), INTEGER values uniform(0,16)
(`PropertyGenerator.java:29`), STRING 50–120 chars
(`PropertyGenerator.java:45-52`), ARRAY of 50 ints in [0,256)
(`PropertyGenerator.java:54-67`).

Chain pointers (the linked-list storage of SURVEY §1.2) follow one order,
ascending rel/property id per owner (FIXTURES.md §2), which makes the
generator double as the spec for the validation suite's chain checks.
A node's relationships and properties have contiguous ids
(``id = owner * slots + slot``), so the source-side and property chains
and the nodes' first pointers are arithmetic on the id; only the
destination chain, whose members are scattered, needs a window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .model import NO_POINTER, PropertyGraph


def _h(seed: int, *cols) -> F.Column:
    """Deterministic non-negative 63-bit hash stream."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _h_md5(seed: int, *cols) -> F.Column:
    """Portable 60-bit hash stream: md5 of ':'-joined string casts —
    bit-identical in DuckDB (``('0x' || substr(md5(...), 1, 15))::BIGINT``),
    so a portable-mode graph is SQL-oracle-checkable value-for-value."""
    parts = [F.lit(str(seed))] + [c.cast("string") if hasattr(c, "cast") else F.lit(str(c)) for c in cols]
    return F.conv(F.substring(F.md5(F.concat_ws(":", *parts)), 1, 15), 16, 10).cast(
        "long"
    )


def _ptr(cond: F.Column, value: F.Column) -> F.Column:
    """``value`` where ``cond`` holds, else NO_POINTER; never null."""
    return F.coalesce(F.when(cond, value), F.lit(NO_POINTER))


def generate_graph(
    spark: SparkSession,
    node_count: int = 1000,
    rel_specs: dict[str, int] | None = None,
    prop_specs: dict[str, int] | None = None,
    seed: int = 42,
    portable: bool = False,
) -> PropertyGraph:
    h = _h_md5 if portable else _h
    rel_specs = rel_specs if rel_specs is not None else {"FOO": 2, "BAR": 1}
    prop_specs = (
        prop_specs if prop_specs is not None else {"INTEGER": 2, "STRING": 1, "ARRAY": 1}
    )

    # --- dictionaries -------------------------------------------------
    type_names = sorted(rel_specs)
    rel_types = spark.createDataFrame(
        [(i, True, n) for i, n in enumerate(type_names)], "id int, in_use boolean, name string"
    )
    key_names = sorted(prop_specs)
    prop_keys = spark.createDataFrame(
        [(i, True, n) for i, n in enumerate(key_names)], "id int, in_use boolean, name string"
    )

    # --- relationships ------------------------------------------------
    # rel id layout: node i's spec rels are contiguous: id = i*R + slot,
    # slot enumerates (type, repeat) pairs sorted by type name — the
    # insertion order the reference generator would produce.
    slots = []  # (slot, type_id)
    for t_i, t in enumerate(type_names):
        for _ in range(rel_specs[t]):
            slots.append((len(slots), t_i))
    R = len(slots)
    slot_df = spark.createDataFrame(slots, "slot int, type_id int")

    # chain pointers: per-endpoint doubly-linked lists in ascending id.
    # A source's rels are its R contiguous ids, so its chain is id ± 1
    # within the slot range.
    rel_id = F.col("src") * R + F.col("slot")
    base = spark.range(node_count).select(F.col("id").alias("src"))
    rels = (
        base.join(F.broadcast(slot_df))
        .select(
            rel_id.alias("id"),
            F.lit(True).alias("in_use"),
            "src",
            # dst uniform over nodes, seeded per rel id (DataGenerator.java:173-188)
            (h(seed, rel_id) % node_count).alias("dst"),
            "type_id",
            _ptr(F.col("slot") > 0, rel_id - 1).alias("src_prev"),
            _ptr(F.col("slot") < R - 1, rel_id + 1).alias("src_next"),
        )
    )

    # the dst chain must exclude self-loop double-membership; keep it simple:
    # dst chain over all rels incident as dst, ascending id
    w_dst = Window.partitionBy("dst").orderBy("id")
    rels = (
        rels.withColumn("dst_prev", F.coalesce(F.lag("id").over(w_dst), F.lit(NO_POINTER)))
        .withColumn("dst_next", F.coalesce(F.lead("id").over(w_dst), F.lit(NO_POINTER)))
        # relationship properties are empty by default (DataGenerator.java:70-72)
        .withColumn("next_prop", F.lit(NO_POINTER).cast("long"))
    )

    # --- properties ---------------------------------------------------
    pslots = []  # (pslot, key_id, vtype)
    for k_i, k in enumerate(key_names):
        vtype = {"INTEGER": "INT", "STRING": "STRING", "ARRAY": "ARRAY"}.get(k, "INT")
        for _ in range(prop_specs[k]):
            pslots.append((len(pslots), k_i, vtype))
    P = len(pslots)
    pslot_df = spark.createDataFrame(pslots, "pslot int, key_id int, vtype string")

    prop_id = F.col("owner_id") * P + F.col("pslot")
    props = (
        spark.range(node_count)
        .select(F.col("id").alias("owner_id"))
        .join(F.broadcast(pslot_df))
        .select(
            prop_id.alias("id"),
            F.lit(True).alias("in_use"),
            "owner_id",
            F.lit("node").alias("owner_kind"),
            F.col("pslot").alias("seq"),
            "key_id",
            "vtype",
            # an owner's P properties are contiguous ids, chained by id ± 1
            _ptr(F.col("pslot") > 0, prop_id - 1).alias("prev_prop"),
            _ptr(F.col("pslot") < P - 1, prop_id + 1).alias("next_prop"),
        )
    )
    hv = h(seed + 1, F.col("id"))
    str_len = (hv % 71 + 50).cast("int")  # 50..120 (PropertyGenerator.java:45-52)
    # deterministic lowercase content: repeat the hex of the hash
    str_val = F.substring(
        F.repeat(F.lower(F.hex(hv)), 8), 1, 120
    ).substr(F.lit(1), str_len)
    arr_val = F.transform(
        F.sequence(F.lit(0), F.lit(49)),
        lambda i: (h(seed + 2, F.col("id"), i) % 256).cast("int"),
    )
    props = props.select(
        "id",
        "in_use",
        "owner_id",
        "owner_kind",
        "seq",
        "key_id",
        "vtype",
        F.when(F.col("vtype") == "INT", (hv % 16).cast("long")).alias("value_long"),
        F.when(F.col("vtype") == "STRING", str_val).alias("value_string"),
        F.when(F.col("vtype") == "ARRAY", arr_val).alias("value_array"),
        "prev_prop",
        "next_prop",
    )

    # --- nodes --------------------------------------------------------
    # each chain starts at the owner's slot 0
    nodes = spark.range(node_count).select(
        "id",
        F.lit(True).alias("in_use"),
        _ptr(F.lit(R > 0), F.col("id") * R).alias("next_rel"),
        _ptr(F.lit(P > 0), F.col("id") * P).alias("next_prop"),
    )

    # --- graph-level properties (NeoStore singleton chain) ------------
    # `NeoStoreCheck.java:29-50`: the NeoStore record owns one property
    # chain holding graph-wide properties. Two records, linked 0 → 1,
    # typed per the first two dictionary keys (same vtype mapping as
    # node properties above).
    gp_rows = []
    gp_keys = list(enumerate(key_names))[:2]
    for gp_id, (k_i, k) in enumerate(gp_keys):
        vtype = {"INTEGER": "INT", "STRING": "STRING", "ARRAY": "ARRAY"}.get(k, "INT")
        gp_rows.append(
            (
                gp_id,
                True,
                0,  # the singleton owner
                "graph",
                gp_id,
                k_i,
                vtype,
                7 + gp_id if vtype == "INT" else None,
                f"graph-prop-{gp_id}" if vtype == "STRING" else None,
                [1, 2, 3] if vtype == "ARRAY" else None,
                gp_id - 1 if gp_id > 0 else NO_POINTER,
                gp_id + 1 if gp_id + 1 < len(gp_keys) else NO_POINTER,
            )
        )
    graph_props = spark.createDataFrame(
        gp_rows,
        "id long, in_use boolean, owner_id long, owner_kind string, seq int, "
        "key_id int, vtype string, value_long long, value_string string, "
        "value_array array<int>, prev_prop long, next_prop long",
    )

    return PropertyGraph(
        nodes=nodes,
        relationships=rels,
        properties=props,
        relationship_types=rel_types,
        property_keys=prop_keys,
        graph_props=graph_props,
    )


_FIXTURE_CACHE: dict[tuple, PropertyGraph] = {}

# Size-derived partitioning for the persisted fixture (r13, guide §2/§6):
# the generator's plans inherit spark.sql.shuffle.partitions (= core count
# locally), which over-partitions small stores — the 100k fixture cached
# 300k-row tables as 32 partitions of ~10k rows, so every check-family
# scan paid 32 near-empty tasks per union branch (BENCH_r12 scaling block:
# 8-core run FASTER than 32-core, ratio 0.52 = pure scheduling overhead).
# ~250k records per partition keeps partitions in the tens-of-MB range for
# these row widths and scales with the store: 100k nodes -> 1-2 partitions
# per table, the 2M-node canonical -> 24-32 (still using every core). On a
# real cluster the same policy holds: partition count follows data volume,
# capped by available parallelism.
_FIXTURE_ROWS_PER_PARTITION = 250_000


def fixture_graph(spark: SparkSession, node_count: int, seed: int = 42) -> PropertyGraph:
    """Memoized, materialized benchmark fixture.

    The reference harness builds the store OUTSIDE the timed check
    (`ConsistencyPerformanceCheck.java:76-140` runs `DataGenerator` as a
    separate un-timed step, then times only the FullCheck phases) — so
    benchmark queries share one persisted fixture per process and the
    timed section measures the check, not store construction. On a
    cluster the equivalent is reading a pre-built parquet snapshot.
    """
    key = (node_count, seed)
    if key not in _FIXTURE_CACHE:
        g = generate_graph(spark, node_count=node_count, seed=seed)
        par = spark.sparkContext.defaultParallelism

        def _sized(df, rows):
            n = max(1, min(par, -(-rows // _FIXTURE_ROWS_PER_PARTITION)))
            return df.repartition(n, "id")

        # default specs: 3 rel slots + 4 prop slots per node (see
        # generate_graph); dictionaries and the NeoStore chain are
        # single-digit rows — one partition each.
        g = PropertyGraph(
            nodes=_sized(g.nodes, node_count),
            relationships=_sized(g.relationships, node_count * 3),
            properties=_sized(g.properties, node_count * 4),
            relationship_types=g.relationship_types.repartition(1),
            property_keys=g.property_keys.repartition(1),
            graph_props=g.graph_props.repartition(1),
        ).persist()
        for df in g.tables().values():
            df.count()  # materialize into executor storage
        _FIXTURE_CACHE[key] = g
    return _FIXTURE_CACHE[key]
