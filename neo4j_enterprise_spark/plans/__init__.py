"""Declared-query registry.

Every implemented operator from SURVEY.md §2 is exposed here as a named
pair: a PySpark plan ``(spark, sf_dir) -> DataFrame`` and (where SQL can
express it) the equivalent DuckDB oracle SQL over the driver's
pre-registered views. The driver hash-compares the two at sf0.01
(CORRECTNESS_r{N}.json); ``tests/test_oracle_parity.py`` runs the same
comparison locally at sf0.001.

Determinism rules every query follows:
- money/ratio aggregates are computed on exact DECIMAL casts, and only the
  *final* value is cast to DOUBLE (identical nearest-double on both
  engines) — never sum raw doubles (order-dependent);
- every computed column is aliased identically in both plans;
- timestamps are reduced to DATE or epoch BIGINT at the output boundary.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    bench: bool = False,
) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # A duplicate name would silently shadow the earlier registration
        # (the r10 verdict found two such accidents); fail loudly instead.
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered ({REGISTRY[name].spark.__module__})"
            )
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc, bench=bench)
        return fn

    return deco


# The driver's correctness harness checks the FIRST 50 entries of
# ``queries()`` in iteration order.  Window history:
#   r1-r2: graph family (registered first) — 98 distinct greens.
#   r3:    TPC-H / events / docs-ANN families — 49 green, q12 red on the
#          HUGEINT hash artifact (fixed: oracle now CASTs to BIGINT, and
#          tests/test_oracle_dtypes.py guards the whole class).
#   r4: q12 re-check + 49 NEVER-driver-checked queries (iterative-oracle
#          community/centrality, Cypher surface, dedup ladder, ANN
#          variants, round-trips, driven-streaming parity) — 49/50 green;
#          emb_label_centroids red on the driver canon's list-cell crash.
#   r5 (this window): the two array-output fixes (emb_label_centroids
#          re-check after the explode fix; docs_inverted_index first-ever
#          after array_join), the 7 NEW corrupted-fixture checker oracles
#          (J1-J11 per-family rows, plans/checker.py), then 41 of the 59
#          remaining never-checked (docs extras, events extras,
#          SCD2/fuzzy/incremental-view, HHI/Pareto, skew report, and the
#          r4 additions past slot 50).
#   r5:    the two array-output fixes, 7 corrupted-fixture checker
#          oracles, then 41 of the 59 remaining never-checked — 50/50
#          green (CORRECTNESS_r05.json).
#   r6 (this window): check_fixture_graph_props (NEW — the NeoStore
#          singleton family's first oracle row, on the r6-extended
#          fixture) + check_fixture_summary re-check (now 7 families);
#          q1/q5/q10 re-checks (their oracles were rewritten in r5 —
#          quantized revenue — so the r3 greens are stale);
#          docs_heavy_hitter_mg (new in r5); the 18 last never-checked
#          oracle queries (docs sampling family, events extras,
#          graph_schema_summary, orders_cube_pricing,
#          property_projection_default, record_counts_per_table,
#          top_orders_per_customer). After this window, ZERO
#          oracle-bearing queries have never had a driver row. The
#          remaining 26 slots recycle the oldest r1-green graph-family
#          queries (driver evidence age ~5 rounds).
#   r7 (this window): docs_repetition_stats FIRST (the r6 red — missing
#          Window import, fixed + suite re-run this round), then the 8
#          retrieval/curation queries REGISTERED in r6 after the window
#          froze (first driver rows), then recycle by evidence age:
#          the two r1 rows, all 21 remaining r2 rows, and the 18
#          never-re-checked r3 TPC-H rows (q2-q22 — re-greens the whole
#          TPC-H family alongside the bucketed-layout work). After this
#          window every oracle query's evidence is ≤4 rounds old.
#   r7:    docs_repetition_stats (the r6 red) first, the 8 queries
#          registered in r6 after the window froze, then recycle by
#          evidence age (r1, r2, r3 TPC-H) — 50/50 green
#          (CORRECTNESS_r07.json). After r7 every oracle query's
#          evidence is <=4 rounds old; only the six registered in r7
#          after the window froze have never had a driver row.
#   r8 (this window): the six queries REGISTERED in r7 after the
#          window froze lead (first driver rows — all six were
#          local-parity + sf0.01 gate_subset green at the r7 head);
#          docs_phrase_search re-checks because r8 re-pointed its
#          DEFAULT plan at the postings rendering (VERDICT r7 ask #3;
#          oracle unchanged), with the HOF variant's first row under
#          its new explicit name docs_phrase_search_hof; any operator
#          REGISTERED THIS ROUND sits inside the window (ends the
#          register-late/check-next-round lag the r6 and r7 verdicts
#          flagged); the rest recycles oldest evidence — the whole r3
#          cohort (28 queries) and the front of the r4 cohort. After
#          this window no oracle query's newest evidence is older
#          than r4.
#   r8:    the six r7-registered queries led and went green; the 14
#          queries registered in r8 sat inside the window (no
#          register-late lag); the whole r3 cohort + front of r4
#          recycled — 50/50 green (CORRECTNESS_r08.json). After r8 no
#          oracle query's newest evidence is older than r4.
#   r9 registrations: docs_soft_dedup_weights / docs_ccnet_buckets /
#          docs_rrf_fusion / emb_sq8_error — all four sit in-window
#          right behind the gopher re-drive (the r8 no-lag rule).
#   r9 (this window): docs_gopher_rules FIRST — its r8 green row was
#          earned pre-fix; the n_alpha empty-boundary-token bug (the
#          r8 VERDICT red, engine said rule_alpha_words=true for
#          'hello\n' vs oracle false) is fixed at text.py (see the
#          r9 commit) and the hypothesis mirror passes, so the
#          re-drive certifies head. Then any operator REGISTERED THIS
#          ROUND (in-window, same rule as r8), then the ENTIRE
#          remaining r4 cohort (45 rows — cypher_* extensions with
#          cypher_with_having early since r9 re-plans its derived-rels
#          pruning, graph_* centrality/community, events_stream_*
#          driven-parity, the displaced docs/emb/customer rows,
#          store_upgrade_read), then start the r5 cohort (front of the
#          check_fixture family) as window filler. After this window
#          no oracle query's newest evidence is older than r5.
#   r9:    50/50 green (CORRECTNESS_r09.json) — the gopher re-drive,
#          the four r9 registrations, the full remaining r4 cohort;
#          the six check_fixture fillers sat past slot 50 (unchecked,
#          still r5-evidenced).
#   r10 (this window): the two queries REGISTERED THIS ROUND lead
#          (events_stream_pushk_parity / events_stream_catchup_tail —
#          the R3/R5 driven parity twins, first driver rows, in-window
#          per the r8 no-lag rule); then the two queries whose PLANS
#          CHANGED this round (docs_ccnet_buckets: decimal-exact sum_cf
#          both sides; docs_tfidf_keywords: tail anti-join dropped), so
#          their r9/r8 greens are re-earned on the new plans; then the
#          46 OLDEST-EVIDENCE queries, all with last check BEFORE r7
#          (VERDICT r9 ask #3: >=40 pre-r7 re-greens after the r9
#          compiler rewrites touched plan generation broadly) — the
#          r1/r2 rows-only five, the six r5 check_fixture rows, and the
#          front of the r5 cohort in name order. The ~56 remaining
#          r5/r6-evidenced queries rotate in r11.
#   r10:   50/50 hash-green (CORRECTNESS_r10.json): the two r10
#          registrations, the two in-round plan changes, the r1/r2
#          rows-only five, the six r5 check_fixture rows, the front of
#          the r5 cohort. NOTE (r10 VERDICT "what's wrong" #2): two
#          plans changed AFTER the r10 window froze —
#          q5_local_supplier_volume (join reorder) and
#          events_sliding_rollup (two-level slots) — so their r10-era
#          greens were stale; they lead THIS window.
#   r11 (this window): the two late-r10 stale greens FIRST
#          (q5_local_supplier_volume, events_sliding_rollup — the
#          latter also gained an explicit NULL-ts filter this round,
#          mirrored in its oracle); then the three queries whose
#          plans+oracles changed this round (the LSH oversized-bucket
#          cap, mirrored via QUALIFY: docs_minhash_md5_candidates,
#          docs_minhash_calibration, docs_simhash_neardup_pairs); then
#          the two r11 RENAMES (first rows under the new names:
#          graph_label_propagation_derived, docs_dup_rate_within_source
#          — the r10 duplicate-registration fix; register() now raises
#          on collision); then the oldest-evidence rotation: the full
#          r5 cohort (8) and the r6 cohort in name order. No no_oracle
#          re-drives this window (r10 VERDICT ask). These r6-evidenced
#          queries did not fit and rotate first in r12 (count grew to
#          16 when the four NULL-ts contract fixes took head slots):
#          node_point_lookup, orders_cube_pricing, pattern_2hop_paths,
#          priority_take_k, property_projection_default,
#          q10_returned_items, q1_pricing_summary,
#          record_counts_per_table, record_model_validation,
#          rel_counts_by_type, round_robin_assignment,
#          snapshot_branch_divergence, top_orders_per_customer,
#          traverse_dfs_preorder, traverse_pruned_2hop,
#          violations_summary.
#          STANDING RULE (r10 VERDICT ask #1): any plan/oracle that
#          changes AFTER this window's driver run leads the r12 window
#          automatically — late-round changes re-earn their green the
#          NEXT round, no exceptions.
# bench.py and the local parity tests are order-independent.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # ================= r13 window =================
    # Composition rules this round:
    #   1. Every oracle-bearing query whose PLAN changed in the r13 b1
    #      optimization leads (record_checks.py branch fusion — all 8
    #      re-earn their green ON the fused plans; rows proven
    #      identical on the corrupted checker fixture, tools/ab_b1_r13.py):
    #      the 7 check_fixture twins of the fused families + summary,
    #      and record_model_validation (runs check_relationships on the
    #      derived record-model graph).
    #   2. ZERO rows-only queries in the head (VERDICT r12 ask #3: the
    #      r12 window wasted one slot on docs_bpe_merges / no_oracle).
    #      The two rows-only queries the b1 change touches
    #      (graph_validation_suite_100k, graph_full_validation) carry
    #      _DEEP_CHANGE_ACK receipts instead.
    #   3. Remaining slots: oldest evidence first — the r7-evidenced
    #      cohort in name order (45 names; the last 4 — q9, row_checksums,
    #      snapshot_diff_added, txlog_replay_lww — rotate in r14).
    #      check_fixture_dictionaries, whose plan the b1 fusion also
    #      changed, joined the b1 block late and pushes q8 past the
    #      window too.
    # -- r13 in-round plan change re-earns (standing rule; OPTIMIZATION_
    #    r13.md §5): prefix marginal as a window over the pair table,
    #    rows proven identical at two scales before the edit ----------
    "docs_bigram_counts",
    # -- r13 b1 plan changes re-earn (OPTIMIZATION_r13.md §1) ----------
    "check_fixture_nodes",
    "check_fixture_relationships",
    "check_fixture_first_property",
    "check_fixture_properties",
    "check_fixture_ownership",
    "check_fixture_graph_props",
    "check_fixture_dictionaries",
    "check_fixture_summary",
    "record_model_validation",
    # -- oldest evidence: last checked r7, name order ------------------
    "cypher_optional_match",
    "cypher_property_map_match",
    "cypher_return_distinct",
    "cypher_skip_page",
    "cypher_string_predicates",
    "cypher_where_aggregate",
    "docs_bigram_fluency",
    "docs_collocations",
    "docs_dsir_importance",
    "docs_exact_dup_groups",
    "docs_lang_source_rollup",
    "docs_nb_lang_classifier",
    "docs_repetition_stats",
    "docs_winnow_overlap",
    "graph_kcore_summary",
    "graph_label_propagation",
    "index_lookup_materialized",
    "index_put_if_absent",
    "parts_copurchase_top20",
    "parts_triangle_clustering",
    "parts_weighted_distances",
    "property_stats_histogram",
    "property_store_scan",
    "property_upsert_projection",
    "q11_part_value_threshold",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_parts_supplier_counts",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_supplier_part_share",
    "q21_sole_late_supplier",
    "q22_global_sales_opportunity",
    "q2_best_supplier_per_part",
    "q3_shipping_priority",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_profit_by_nation_year",
)


# Deep-only changes (shared-helper edits) acknowledged OUT of the window,
# with the evidence that stands in for a driver slot — audited by
# tests/test_window_staleness.py (a reason string is REQUIRED).
#
# The r12 ACK set (LSH single-pass, traversal cadence, guard no-ops) was
# retired at this rotation: the r12 driver run certified those plans
# (CORRECTNESS_r12: 49/50 hash-green on the optimized tree) and the
# manifest was re-snapshotted on the r13 head, so no flags remain.
_DEEP_CHANGE_ACK: dict[str, str] = {
    "graph_validation_suite_100k": (
        "rows-only query (no oracle); executes the r13-fused "
        "record_checks plans over the 100k fixture (now persisted with "
        "size-derived partitioning — a layout-only change). Evidence in "
        "place of a driver slot: all 7 fused families proven "
        "row-IDENTICAL against the r12 implementation on the corrupted "
        "checker fixture (tools/ab_b1_r13.py, old-only=0/new-only=0 per "
        "family), the clean fixture still validates to 0 violations "
        "(tests/test_record_checks.py), and the 7 oracle-bearing "
        "check_fixture twins + check_fixture_summary + "
        "record_model_validation re-earn driver greens on the fused "
        "plans IN this window. ALSO covers the r13 validate() "
        "construct-in-thread change (OPTIMIZATION_r13.md §11): each "
        "family frame is built inside its pool thread — same builders, "
        "same checkpoint, same union order, so the output is "
        "structurally unchanged; proven by eager-vs-lazy row-compare "
        "on the corrupted checker fixture (33 rows, both-direction "
        "exceptAll = 0) and the corruption-matrix tests"
    ),
    "graph_full_validation": (
        "rows-only query (no oracle); runs rc.validate() on a corrupted "
        "500-node graph — same fused plans, same evidence as "
        "graph_validation_suite_100k (corrupted-fixture row-compare "
        "identical per family; corruption matrix green; oracle twins "
        "lead this window)"
    ),
    # Superstep loops build their loop invariants once and halt on the
    # round's own checkpoint (traversal.connected_components / pagerank /
    # personalized_pagerank, community.ktruss_peel). Shared receipt for
    # the five queries below.
    **dict.fromkeys(
        (
            "connected_components",
            "docs_leakage_safe_split",
            "docs_neardup_clusters",
            "graph_personalized_pagerank",
            "parts_ktruss_bounded",
        ),
        "superstep rewrite of connected_components (one join + one "
        "min-combine per round over a checkpointed edge set with "
        "self-loops, halt read from the round's checkpoint), pagerank / "
        "personalized_pagerank (node frame with a dangling flag and "
        "out-degree-weighted edge list built once) and ktruss_peel "
        "(survivors read off the support frame): rows identical to the "
        "previous implementation for all five queries at sf0.01 "
        "(full-row multiset compare and ordered compare, ranks equal to "
        "the last bit; connected_components also at max_iter 0/1/3/15/20 "
        "on the derived graph and with NULL endpoints); same-session "
        "interleaved A/B on the sf0.01 derived graph (local[4], 4g, 5 "
        "reps): connected_components 10.00 -> 5.45 s median, 89 -> 42 "
        "jobs; pagerank(2) 3.74 -> 2.63 s, 33 -> 23 jobs; "
        "parts_ktruss_bounded 2.11 -> 1.92 s, 32 -> 28 jobs",
    ),
}

# r12 OPTIMIZATION note (kept for history): a ktruss_peel wedge-join
# auto-broadcast was tried, golden-verified, measured at sf0.1
# (apparent −0.4 s) — and REVERTED when the sf10 rung showed a stable
# +0.6 s regression. Receipt in OPTIMIZATION_r12.md §4.


def all_queries() -> dict[str, Query]:
    # import side-effect populates REGISTRY
    from . import checker  # noqa: F401
    from . import graph_queries  # noqa: F401
    from . import pipeline  # noqa: F401
    from . import relational  # noqa: F401

    ordered: dict[str, Query] = {}
    for name in _DRIVER_PRIORITY:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, query in REGISTRY.items():
        if name not in ordered:
            ordered[name] = query
    return ordered
