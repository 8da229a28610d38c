"""Full record-level validation suite: the reference's consistency checker
(`consistency-check`, SURVEY.md §2.3/§3.3) as one declarative DAG.

Every ``*RecordCheck`` becomes a join/anti-join plan over the
``PropertyGraph`` tables; rule names match the reference's report methods
(`report/ConsistencyReport.java`) so the test matrix mirrors
`RelationshipRecordCheckTest` / `NodeRecordCheckTest` /
`PropertyRecordCheckTest` case-for-case.

Execution model: the reference scans each store once, deferring
cross-store lookups as continuations (`PendingReferenceCheck.java`) and
re-runs big stores in id-windowed passes when memory-bound
(`MultiPassStore.java:40-170`). In Spark both disappear: deferred
reference resolution IS a join, multi-pass IS a partitioned hash join;
the dictionary sides are broadcast (the reference pre-caches them,
`FullCheck.java:128-134`). All violation outputs share
(record_type, rule, entity_id, detail).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph.model import NO_POINTER, PropertyGraph
from .superstep import cut
from .validation import _violation


def _rel_pointer_checks(rels: DataFrame) -> DataFrame:
    """J3: the four per-endpoint chain pointers — existence, endpoint
    agreement, and back-reference symmetry
    (`RelationshipRecordCheck.java:83-260`: SOURCE_PREV/SOURCE_NEXT/
    TARGET_PREV/TARGET_NEXT).

    ONE join total: each live relationship unpivots to one row per set
    pointer (≤4), and the stacked pointer set joins the target store
    once. At scale that is a single shuffle of the pointer set + one of
    the store, instead of four passes over the full relationship table
    (the reference re-scans the store per reference field; `stack` is
    the columnar analog of its deferred-reference queue).
    """
    live = rels.filter(F.col("in_use"))
    # (side, dir) → unpivoted pointer rows; `node` is the endpoint whose
    # chain the pointer belongs to, `rule_*` the reference report names.
    ptrs = live.select(
        "id",
        "src",
        "dst",
        F.expr(
            "stack(4, "
            "'sourcePrev', src_prev, src, 'next', "
            "'sourceNext', src_next, src, 'prev', "
            "'targetPrev', dst_prev, dst, 'next', "
            "'targetNext', dst_next, dst, 'prev') "
            "AS (family, ptr, node, back_dir)"
        ),
    ).filter(F.col("ptr") != NO_POINTER)
    target = live.select(
        F.col("id").alias("t_id"),
        F.col("src").alias("t_src"),
        F.col("dst").alias("t_dst"),
        F.col("src_prev").alias("t_src_prev"),
        F.col("src_next").alias("t_src_next"),
        F.col("dst_prev").alias("t_dst_prev"),
        F.col("dst_next").alias("t_dst_next"),
    )
    joined = ptrs.join(target, ptrs["ptr"] == target["t_id"], "left")
    shares = (F.col("t_src") == F.col("node")) | (F.col("t_dst") == F.col("node"))
    # The back-pointer is read from the chain side being validated first
    # (a rel incident to the node on BOTH sides — e.g. a self-loop —
    # participates in both chains with independent pointers, exactly like
    # the reference's first/second chain distinction,
    # `RelationshipRecordCheck.java:35-37`). Source-chain pointers prefer
    # the target's source side; target-chain pointers its target side.
    src_side = F.col("family").startswith("source")
    back_on_src = F.when(F.col("back_dir") == "next", F.col("t_src_next")).otherwise(
        F.col("t_src_prev")
    )
    back_on_dst = F.when(F.col("back_dir") == "next", F.col("t_dst_next")).otherwise(
        F.col("t_dst_prev")
    )
    back_ptr = (
        F.when(src_side & (F.col("t_src") == F.col("node")), back_on_src)
        .when(src_side, back_on_dst)
        .when(F.col("t_dst") == F.col("node"), back_on_dst)
        .otherwise(back_on_src)
    )
    rule = (
        F.when(F.col("t_id").isNull(), F.concat(F.col("family"), F.lit("NotInUse")))
        .when(~shares, F.concat(F.col("family"), F.lit("ForOtherNode")))
        .when(back_ptr != F.col("id"), F.concat(F.col("family"), F.lit("DoesNotReferenceBack")))
    )
    return (
        joined.withColumn("__rule", rule)
        .filter(F.col("__rule").isNotNull())
        .select(
            F.lit("RELATIONSHIP").alias("record_type"),
            F.col("__rule").alias("rule"),
            F.col("id").cast("long").alias("entity_id"),
            F.col("ptr").cast("string").alias("detail"),
        )
    )


def check_relationships(g: PropertyGraph) -> DataFrame:
    """RELATIONSHIP store checks: label validity (J2/P6), endpoint
    integrity (J4), chain pointer symmetry (J3).

    THREE passes over the store:
    - both label rules in one scan — left join to the broadcast
      dictionary, when-chain picks illegalLabel (type_id < 0, never a
      dictionary hit) vs labelNotInUse (type_id >= 0, no live entry);
    - both endpoint rules in one stacked anti-join (the same unpivoted
      shape as validation.endpoints_not_in_use: probe volume identical,
      the live-node build side built ONCE instead of twice);
    - the pointer-symmetry join unchanged (already a single stacked join).
    """
    rels = g.relationships
    live = rels.filter(F.col("in_use"))
    # label rules (`RelationshipRecordCheck.java:48-80`): one scan
    live_types = g.relationship_types.filter(F.col("in_use")).select(
        F.col("id").alias("type_id"), F.lit(True).alias("__type_live")
    )
    lbl_rule = F.when(F.col("type_id") < 0, F.lit("illegalLabel")).when(
        (F.col("type_id") >= 0) & F.col("__type_live").isNull(), F.lit("labelNotInUse")
    )
    label_v = (
        live.join(F.broadcast(live_types), "type_id", "left")
        .withColumn("__rule", lbl_rule)
        .filter(F.col("__rule").isNotNull())
        .select(
            F.lit("RELATIONSHIP").alias("record_type"),
            F.col("__rule").alias("rule"),
            F.col("id").cast("long").alias("entity_id"),
            F.col("type_id").cast("string").alias("detail"),
        )
    )
    # endpoint integrity (J4): stacked (src, dst) single anti-join
    live_nodes = g.nodes.filter(F.col("in_use")).select("id")
    ep = live.select(
        F.col("id").alias("rel_id"),
        F.expr(
            "stack(2, 'sourceNodeNotInUse', src, 'targetNodeNotInUse', dst) "
            "AS (rule, node)"
        ),
    )
    ep_v = ep.join(live_nodes, ep["node"] == live_nodes["id"], "left_anti").select(
        F.lit("RELATIONSHIP").alias("record_type"),
        F.col("rule"),
        F.col("rel_id").cast("long").alias("entity_id"),
        F.col("node").cast("string").alias("detail"),
    )
    return label_v.unionByName(ep_v).unionByName(_rel_pointer_checks(rels))


def check_nodes(g: PropertyGraph) -> DataFrame:
    """NODE store checks: J1 — ``next_rel`` must exist, be in use, involve
    this node, and be first in its chain (`NodeRecordCheck.java:39-107`);
    W1 first-in-chain = null prev pointer on the matching endpoint.

    ONE pass: the three rules are mutually exclusive per node (missing /
    foreign / not-first), so they fold into one when-chain over a single
    node⋈rel join instead of three union branches that would each
    re-scan both stores and re-execute the same join."""
    nodes = g.nodes.filter(F.col("in_use"))
    has_rel = nodes.filter(F.col("next_rel") != NO_POINTER)
    rel = g.relationships.filter(F.col("in_use")).select(
        F.col("id").alias("r_id"),
        F.col("src").alias("r_src"),
        F.col("dst").alias("r_dst"),
        F.col("src_prev").alias("r_src_prev"),
        F.col("dst_prev").alias("r_dst_prev"),
    )
    joined = has_rel.join(rel, has_rel["next_rel"] == rel["r_id"], "left")
    involves = (F.col("r_src") == F.col("id")) | (F.col("r_dst") == F.col("id"))
    # W1: first-in-chain — prev pointer on this node's side must be unset
    prev_here = F.when(F.col("r_src") == F.col("id"), F.col("r_src_prev")).otherwise(
        F.col("r_dst_prev")
    )
    rule = (
        F.when(F.col("r_id").isNull(), F.lit("relationshipNotInUse"))
        .when(~involves, F.lit("relationshipForOtherNode"))
        # `involves &` kept explicitly: with a NULL endpoint `involves`
        # is NULL (neither branch above fires), and such a node is not
        # reported as not-first either.
        .when(involves & (prev_here != NO_POINTER), F.lit("relationshipNotFirstInChain"))
    )
    return (
        joined.withColumn("__rule", rule)
        .filter(F.col("__rule").isNotNull())
        .select(
            F.lit("NODE").alias("record_type"),
            F.col("__rule").alias("rule"),
            F.col("id").cast("long").alias("entity_id"),
            F.col("next_rel").cast("string").alias("detail"),
        )
    )


def _owners(g: PropertyGraph) -> DataFrame:
    """All primitives' first-property pointers: (owner_kind, owner_id,
    next_prop) for nodes, relationships, and the graph singleton
    (`PrimitiveRecordCheck.java:60-101`, `NeoStoreCheck.java:29-50`)."""
    n = g.nodes.filter(F.col("in_use")).select(
        F.lit("node").alias("o_kind"), F.col("id").alias("o_id"), F.col("next_prop")
    )
    r = g.relationships.filter(F.col("in_use")).select(
        F.lit("rel").alias("o_kind"), F.col("id").alias("o_id"), F.col("next_prop")
    )
    return n.unionByName(r)


def check_primitive_first_property(g: PropertyGraph) -> DataFrame:
    """J5: owner.next_prop must exist, be in use, be first in chain
    (prev == -1), and claim this owner (`PrimitiveRecordCheck.java:60-101`).

    ONE pass over one owners⋈props join. NotFirstInChain and
    ForOtherOwner can co-occur on one record, so instead of a when-chain
    the applicable rules are exploded from a per-row array (null entries
    filtered): the row multiset of one union branch per rule, one join."""
    owners = _owners(g).filter(F.col("next_prop") != NO_POINTER)
    props = g.properties.filter(F.col("in_use")).select(
        F.col("id").alias("p_id"),
        F.col("prev_prop").alias("p_prev"),
        F.col("owner_id").alias("p_owner_id"),
        F.col("owner_kind").alias("p_owner_kind"),
    )
    j = owners.join(props, owners["next_prop"] == props["p_id"], "left")
    rules = F.array(
        F.when(F.col("p_id").isNull(), F.lit("propertyNotInUse")),
        F.when(
            F.col("p_id").isNotNull() & (F.col("p_prev") != NO_POINTER),
            F.lit("propertyNotFirstInChain"),
        ),
        F.when(
            F.col("p_id").isNotNull()
            & ((F.col("p_owner_id") != F.col("o_id")) | (F.col("p_owner_kind") != F.col("o_kind"))),
            F.lit("propertyForOtherOwner"),
        ),
    )
    return (
        j.select(
            F.upper(F.col("o_kind")).alias("record_type"),
            F.explode(rules).alias("rule"),
            F.col("o_id").cast("long").alias("entity_id"),
            F.col("next_prop").cast("string").alias("detail"),
        )
        .filter(F.col("rule").isNotNull())
    )


def _entry(cond: Column, rule: str, detail: Column) -> Column:
    """One (rule, detail) entry of a per-row rule array, NULL when
    ``cond`` does not hold."""
    return F.when(cond, F.struct(F.lit(rule).alias("r"), detail.cast("string").alias("d")))


def _property_chain_checks(
    g: PropertyGraph, live: DataFrame, record_type: str, key_rules: list[Column]
) -> list[DataFrame]:
    """The two scans every property chain gets, whichever store holds it:

    - J6 prev/next symmetry (`PropertyRecordCheck.java:167-230`) — both
      pointer directions unpivot into ONE self-join on property id (same
      single-shuffle shape as `_rel_pointer_checks`);
    - one broadcast-dictionary left join whose (rule, detail) entries —
      the caller's ``key_rules``, then the typed-value shape (exactly the
      column matching vtype set) — explode from a per-row array: they
      CAN co-occur on one record, and one scan replaces a union branch
      per rule re-scanning the store.
    """
    target = live.select(
        F.col("id").alias("t_id"),
        F.col("prev_prop").alias("t_prev"),
        F.col("next_prop").alias("t_next"),
    )
    ptrs = live.select(
        "id",
        F.expr(
            "stack(2, "
            "'prevNotInUse', 'previousDoesNotReferenceBack', prev_prop, 'next', "
            "'nextNotInUse', 'nextDoesNotReferenceBack', next_prop, 'prev') "
            "AS (rule_niu, rule_back, ptr, back_dir)"
        ),
    ).filter(F.col("ptr") != NO_POINTER)
    j = ptrs.join(target, ptrs["ptr"] == target["t_id"], "left")
    back = F.when(F.col("back_dir") == "next", F.col("t_next")).otherwise(F.col("t_prev"))
    rule = F.when(F.col("t_id").isNull(), F.col("rule_niu")).when(
        back != F.col("id"), F.col("rule_back")
    )
    symmetry = (
        j.withColumn("__rule", rule)
        .filter(F.col("__rule").isNotNull())
        .select(
            F.lit(record_type).alias("record_type"),
            F.col("__rule").alias("rule"),
            F.col("id").cast("long").alias("entity_id"),
            F.col("ptr").cast("string").alias("detail"),
        )
    )
    live_keys = g.property_keys.filter(F.col("in_use")).select(
        F.col("id").alias("key_id"), F.lit(True).alias("__key_live")
    )
    bad_value = (
        (F.col("vtype") == "INT")
        & (F.col("value_long").isNull() | F.col("value_string").isNotNull() | F.col("value_array").isNotNull())
    ) | (
        (F.col("vtype") == "STRING")
        & (F.col("value_string").isNull() | F.col("value_long").isNotNull() | F.col("value_array").isNotNull())
    ) | (
        (F.col("vtype") == "ARRAY")
        & (F.col("value_array").isNull() | F.col("value_long").isNotNull() | F.col("value_string").isNotNull())
    )
    entries = F.array(*key_rules, _entry(bad_value, "invalidPropertyValue", F.col("vtype")))
    values = (
        live.join(F.broadcast(live_keys), "key_id", "left")
        .select(F.col("id"), F.explode(entries).alias("e"))
        .filter(F.col("e").isNotNull())
        .select(
            F.lit(record_type).alias("record_type"),
            F.col("e.r").alias("rule"),
            F.col("id").cast("long").alias("entity_id"),
            F.col("e.d").alias("detail"),
        )
    )
    return [symmetry, values]


def check_properties(g: PropertyGraph) -> DataFrame:
    """PROPERTY store checks: chain symmetry (J6,
    `PropertyRecordCheck.java:167-230`), key validity (J7, `:131-137`),
    typed-value shape (our analog of the dynamic-store block checks
    `:139-158`)."""
    key_id = F.col("key_id")
    key_rules = [
        _entry(key_id < 0, "invalidPropertyKey", key_id),
        _entry((key_id >= 0) & F.col("__key_live").isNull(), "keyNotInUse", key_id),
    ]
    live = g.properties.filter(F.col("in_use"))
    return reduce(
        DataFrame.unionByName, _property_chain_checks(g, live, "PROPERTY", key_rules)
    )


def check_ownership(g: PropertyGraph) -> DataFrame:
    """J10: every property chain head is owned by exactly one primitive
    (`PrimitiveRecordCheck.java:39-57` ownerCheck; orphan sweep
    `OwnerCheck.java:81-145`).

    - multipleOwners: a head referenced by >1 primitives (group count).
    - orphanChain: a live chain head no primitive references (anti-join).

    ONE join: both rules read off a single full-outer join of the
    per-pointer claim counts against the live chain heads, so the
    2-records-per-primitive owner set is shuffled once, not once for the
    group count and again as an anti-join build side. The claims side
    arrives already partitioned by the join key, so its exchange is
    reused.
    """
    owners = _owners(g).filter(F.col("next_prop") != NO_POINTER)
    claims = owners.groupBy("next_prop").agg(F.count("*").alias("n_owners"))
    heads = g.properties.filter(F.col("in_use") & (F.col("prev_prop") == NO_POINTER)).select(
        F.col("id").alias("head_id"), F.col("owner_id").alias("head_owner")
    )
    j = claims.join(heads, claims["next_prop"] == heads["head_id"], "full_outer")
    entries = F.array(
        F.when(
            F.col("n_owners") > 1,
            F.struct(
                F.col("next_prop").cast("long").alias("e"),
                F.lit("multipleOwners").alias("r"),
                F.col("n_owners").cast("string").alias("d"),
            ),
        ),
        F.when(
            F.col("n_owners").isNull() & F.col("head_id").isNotNull(),
            F.struct(
                F.col("head_id").cast("long").alias("e"),
                F.lit("orphanChain").alias("r"),
                F.col("head_owner").cast("string").alias("d"),
            ),
        ),
    )
    return (
        j.select(F.explode(entries).alias("x"))
        .filter(F.col("x").isNotNull())
        .select(
            F.lit("PROPERTY").alias("record_type"),
            F.col("x.r").alias("rule"),
            F.col("x.e").alias("entity_id"),
            F.col("x.d").alias("detail"),
        )
    )


def check_dictionaries(g: PropertyGraph) -> DataFrame:
    """J9: dictionary names must be present and non-empty
    (`NameRecordCheck.java:42-66` — emptyName / dangling nameId)."""
    out = []
    for df, rt in ((g.relationship_types, "RELATIONSHIP_LABEL"), (g.property_keys, "PROPERTY_KEY")):
        live = df.filter(F.col("in_use"))
        out.append(
            _violation(
                live.filter(F.col("name").isNull() | (F.col("name") == "")),
                rt,
                "emptyName",
                "id",
                F.col("name"),
            )
        )
    return reduce(DataFrame.unionByName, out)


def check_graph_props(g: PropertyGraph) -> DataFrame:
    """NeoStore singleton check (`NeoStoreCheck.java:29-50`): the
    graph-level property chain must have exactly one head (prev == -1),
    symmetric prev/next pointers, live dictionary keys, graph ownership,
    and exactly one typed value column set — the same rule families the
    node/rel property chains get, scoped to the singleton's store."""
    if g.graph_props is None:
        empty = g.properties.limit(0)
        return _violation(empty, "NEO_STORE", "never", "id", F.col("id"))
    live = g.graph_props.filter(F.col("in_use"))
    # chain head cardinality: != 1 head on a non-empty chain is corruption;
    # both counts come from ONE aggregate over one scan.
    stats = live.agg(
        F.count("*").alias("m"),
        F.count(F.when(F.col("prev_prop") == NO_POINTER, F.lit(1))).alias("n"),
    )
    bad_heads = stats.filter((F.col("m") > 0) & (F.col("n") != 1)).select(
        F.lit("NEO_STORE").alias("record_type"),
        F.lit("propertyChainHeadCount").alias("rule"),
        F.lit(0).cast("long").alias("entity_id"),
        F.col("n").cast("string").alias("detail"),
    )
    # graph ownership + key validity; the keyNotInUse guard here is
    # __key_live.isNull() with NO key_id >= 0 pre-filter: a NULL key_id
    # never matches the dictionary and IS reported, unlike the
    # property-store rule.
    key_rules = [
        _entry(
            (F.col("owner_kind") != "graph") | (F.col("owner_id") != 0),
            "propertyForOtherOwner",
            F.col("owner_id"),
        ),
        _entry(F.col("__key_live").isNull(), "keyNotInUse", F.col("key_id")),
    ]
    return reduce(
        DataFrame.unionByName,
        [bad_heads, *_property_chain_checks(g, live, "NEO_STORE", key_rules)],
    )


def check_families(g: PropertyGraph) -> dict[str, DataFrame]:
    """The checker as named per-store scan tasks — the reference's 9
    sequential store scans (`FullCheck.java:96-123`); its JSON report
    carries one phase per task with elementCount/time/recordsPerSecond
    (`JsonReportWriter.java:106-131`). bench.py times each family
    separately to produce the same per-phase metric shape."""
    return {name: build(g) for name, build in _FAMILY_BUILDERS.items()}


# family name -> builder; the single source of truth for the checker's
# task list (check_families materializes it per graph; validate
# defers each build into its pool thread so analysis overlaps execution)
_FAMILY_BUILDERS: dict[str, Callable[[PropertyGraph], DataFrame]] = {
    "nodes": check_nodes,
    "relationships": check_relationships,
    "first_property": check_primitive_first_property,
    "properties": check_properties,
    "ownership": check_ownership,
    "dictionaries": check_dictionaries,
    "graph_props": check_graph_props,
}


def family_element_counts(g: PropertyGraph) -> dict[str, int]:
    """Record count of each family's PRIMARY scanned store — the
    denominator of the reference's per-phase recordsPerSecond."""
    n_nodes = g.nodes.count()
    n_rels = g.relationships.count()
    n_props = g.properties.count()
    n_dict = (
        g.relationship_types.count()
        + g.property_keys.count()
    )
    n_gp = g.graph_props.count()
    return {
        "nodes": n_nodes,
        "relationships": n_rels,
        "first_property": n_nodes + n_rels,
        "properties": n_props,
        "ownership": n_props,
        "dictionaries": n_dict,
        "graph_props": n_gp,
    }


def validate(g: PropertyGraph) -> DataFrame:
    """FullCheck (`FullCheck.java:71-123`): the whole checker.

    The reference runs 9 sequential store scans with MULTI_THREADED /
    MULTI_PASS knobs (`TaskExecutionOrder.java:29-110`); here each rule
    family is one Catalyst plan and AQE sizes the shuffles — both knobs
    dissolve.

    Each family's violations are materialized by ``superstep.cut``
    before the union. This bounds plan size: the all-in-one union (~35
    branches sharing deep window subtrees) chokes the optimizer at
    scale, while the per-family plans each run in seconds — the same
    bounded-lineage principle the iterative operators follow. Each
    family is built AND materialized inside its own pool thread: building
    a family frame is ~0.15 s of Catalyst analysis / py4j round-trips
    that release the GIL, so building them serially would put ~1 s of
    driver time in front of the concurrent jobs. This is the reference's
    MULTI_THREADED task-execution axis (`TaskExecutionOrder.java:29-110`,
    pool = #cores) covering analysis as well as execution.
    """
    from concurrent.futures import ThreadPoolExecutor

    builders = list(_FAMILY_BUILDERS.values())
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        families = list(
            pool.map(lambda build: cut(build(g))[0], builders)
        )
    return reduce(DataFrame.unionByName, families)
