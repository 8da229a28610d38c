"""Plan-quality regression tests: the optimizations SCALE.md promises
must be visible in the physical plans (pushdown, broadcast, partial
aggregation, top-k without global sort)."""

from __future__ import annotations

import io
import sys

from neo4j_enterprise_spark.plans import all_queries


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name].spark(spark, sf_dir)
    buf = io.StringIO()
    stdout, sys.stdout = sys.stdout, buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def test_q6_filters_reach_the_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters" in plan
    # shipdate range + discount + quantity all pushed
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    assert "l_quantity" in plan
    # column pruning: returnflag is never read
    assert "l_returnflag" not in plan


def test_q3_broadcasts_the_dimension(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 without global sort


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_dictionary_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "record_model_validation")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_point_lookup_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "node_point_lookup")
    # the id=42 predicate reaches the scan: either pushed to parquet or
    # served from the memoized in-memory derived-nodes table
    assert "PushedFilters" in plan or "InMemoryTableScan" in plan


def test_ivf_centroid_selection_has_no_global_sort(spark, sf_dir):
    """Centroid selection must be per-partition top-K
    (TakeOrderedAndProject), not a corpus-wide window/sort — the
    100 TB-path invariant for ivf_assign."""
    from pyspark.sql import functions as F

    from neo4j_enterprise_spark.catalog import load_table
    from neo4j_enterprise_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assignments = ivf_assign(emb, n_cells=8)
    import io
    import sys

    buf = io.StringIO()
    stdout, sys.stdout = sys.stdout, buf
    try:
        centroids.explain("formatted")
    finally:
        sys.stdout = stdout
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    # the only Window runs on the K selected rows (post-limit), never
    # before the TakeOrderedAndProject that bounds the input
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_bloom_probe_is_broadcast_only(spark, sf_dir):
    """The Bloom contamination probe must broadcast the <=4096-row
    filter for every hash (no shuffle join on the probe path) — the
    whole point of the scale path vs the exact shingle join."""
    plan = _plan(spark, sf_dir, "docs_bloom_contamination")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bm25_stats_join_is_broadcast(spark, sf_dir):
    """BM25's corpus statistics are ONE single-row aggregate broadcast
    back over the per-doc scan; ranking is top-k, not a global sort."""
    plan = _plan(spark, sf_dir, "docs_bm25_search")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_winnow_windows_reuse_one_sort(spark, sf_dir):
    # Both the lead-gram window and the selection-min window hang off
    # ONE per-doc sort: exactly one Exchange (hashpartitioning doc_id)
    # feeds two Window nodes; everything stays JVM-side.
    from neo4j_enterprise_spark.catalog import load_table
    from neo4j_enterprise_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        dedup.winnow_fingerprints(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 2
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_dsir_scoring_is_broadcast_topk(spark, sf_dir):
    """DSIR's <=4096-row bucket-lift table must come back as a
    broadcast join (never a shuffle on the corpus side) and selection
    must be top-k, not a global sort; everything JVM-side."""
    plan = _plan(spark, sf_dir, "docs_dsir_importance")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_nb_classifier_stays_jvm_side(spark, sf_dir):
    """NB train+score is pure counting: no Python eval anywhere, and
    the single-row totals come back as a broadcast nested-loop join."""
    plan = _plan(spark, sf_dir, "docs_nb_lang_classifier")
    assert "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def _tree(plan: str) -> str:
    """The operator-tree section of a formatted explain (each node
    appears ONCE; the details section repeats every node name)."""
    return plan.split("\n\n(1)")[0]


def test_char_gini_is_shuffle_free_scan(spark, sf_dir):
    """One Arrow mapInPandas counting pass fused onto the scan — no
    Exchange (beyond the registered output sort), no Generate, no
    Catalyst lambda, no row-at-a-time Python (the 26-replace codegen
    form allocated a document copy per letter: 76 s vs 5.3 s at
    sf10)."""
    plan = _plan(spark, sf_dir, "docs_char_gini")
    tree = _tree(plan)
    assert tree.count("Exchange") <= 1  # only the output sort
    assert tree.count("MapInPandas") == 1
    assert "Generate" not in tree
    assert "lambda" not in plan
    assert "BatchEvalPython" not in plan


def test_gopher_rules_is_shuffle_free_scan(spark, sf_dir):
    """One Arrow mapInPandas rule pass fused onto the scan — no
    Exchange beyond the registered output sort, no Generate, no
    Catalyst lambdas, no row-at-a-time Python. (Third rendering:
    list_filter lambdas 52.9 s, JVM regexp_count 21.9 s, C-speed
    batch ~5 s ≈ DuckDB parity at sf10 — BASELINE §11.)"""
    plan = _plan(spark, sf_dir, "docs_gopher_rules")
    tree = _tree(plan)
    assert tree.count("Exchange") <= 1  # only the output sort
    assert tree.count("MapInPandas") == 1
    assert "Generate" not in tree
    assert "lambda" not in plan
    assert "BatchEvalPython" not in plan


def test_tfidf_explodes_corpus_once(spark, sf_dir):
    """At runtime the corpus is exploded once — df derives FROM the tf
    table, so AQE reuses tf's (doc, term) exchange instead of
    re-exploding (the ngram_novelty contract). N comes back as a 1-row
    broadcast (nested-loop on one row, never a shuffled cartesian);
    all JVM-side."""
    df = all_queries()["docs_tfidf_keywords"].spark(spark, sf_dir)
    df.collect()
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
    ).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # top-k never ranks the full tf table: WindowGroupLimit prunes to
    # k rows per doc BEFORE the doc-keyed exchange
    assert "WindowGroupLimit" in plan
    # at most the tf branch + the df-derivation branch touch the corpus
    # (at broadcast-small scale AQE rewrites the tf side to a broadcast,
    # which forfeits exchange reuse — both-shuffle scales reuse it)
    assert plan.count("Generate explode") <= 2


def test_dup_rate_uses_partial_aggregation_not_window(spark, sf_dir):
    """Digest counting must be a map-side-combinable groupBy + join
    back, never an unbounded per-digest window (the exact_substr r7
    ADVICE skew lesson applied from the start)."""
    plan = _plan(spark, sf_dir, "docs_dup_rate_by_source")
    tree = _tree(plan)
    assert "Window" not in tree
    assert "HashAggregate" in tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_substr_gram_count_is_partial_agg_semi_join(spark, sf_dir):
    """The r8 skew fix pinned: gram occurrence counting is a groupBy
    (partial aggregation) + LEFT SEMI join-back on the 16-byte digest
    — NO window partitioned by gram anywhere in the plan (the r7
    rendering put every occurrence of a hot gram on one reducer)."""
    plan = _plan(spark, sf_dir, "docs_exact_substr_spans")
    assert "LeftSemi" in plan
    # every windowspec partitions by doc, never by gram or its digest
    for spec in plan.split("windowspecdefinition(")[1:]:
        assert spec.startswith("doc_id"), spec[:60]


def test_semdedup_greedy_single_python_stage(spark, sf_dir):
    """The sequential-greedy replay is ONE applyInPandas over cell_id;
    candidate generation stays JVM (broadcast assign, no cartesian)."""
    plan = _plan(spark, sf_dir, "emb_semdedup_greedy")
    tree = _tree(plan)
    assert tree.count("FlatMapGroupsInPandas") == 1
    assert "CartesianProduct" not in tree


def test_endpoints_single_anti_join(spark, sf_dir):
    """r12 optimization pinned (OPTIMIZATION_r12.md §3): the endpoint
    existence check is ONE left-anti join over the stacked (src, dst)
    set. The old two-join form let Catalyst push the anti-join below
    the 5-branch rels union — 10 join branches, each rebuilding the
    identical live-node build side."""
    import re

    plan = _plan(spark, sf_dir, "endpoints_not_in_use")
    # one anti-JOIN NODE in the tree ("LeftAnti" also appears once more
    # in the node-details section, so count join operators, not the word)
    nodes = re.findall(r"\w+Join LeftAnti", plan)
    assert len(nodes) == 1, nodes


def test_bfs_frontier_lineage_is_cut_every_round(spark, sf_dir):
    """r12 optimization pinned (OPTIMIZATION_r12.md §2): each BFS
    round's frontier has three consumers, so it must be materialized
    (Scan ExistingRDD) rather than re-derived — without the per-round
    cut the k=2 plan carried 120 InMemoryTableScans (O(k²)
    recomputation of the frontier cascade; the r12 doc's "297" was an
    overstatement the r12 verdict corrected against the EXPLAIN
    output — 120→10 is the real count)."""
    plan = _plan(spark, sf_dir, "bfs_2hop_reach")
    assert "Scan ExistingRDD" in plan
    # the full 5-branch edge-union cache is scanned by the final
    # union-aggregate only; the checkpointed frontiers must not
    # re-derive it per round. Measured after the r12 fix: 10 scans in
    # the EXPLAIN output, 120 before; bound at 2x the observed value so a partial regression
    # trips the pin without flaking on minor plan drift.
    assert plan.count("InMemoryTableScan") <= 20, plan.count("InMemoryTableScan")


def test_lsh_signature_runs_once(spark, sf_dir):
    """r12 optimization pinned (OPTIMIZATION_r12.md §1): the corpus
    LSH-signature Arrow UDF is materialized exactly once (eager
    checkpoint behind the capped bucket table); the downstream
    candidate-join plan must contain ZERO ArrowEvalPython nodes (the
    lazy form carried 8 — the optimizer cloned the matmul below
    posexplode's inferred filter, then re-planned it on both join
    sides)."""
    plan = _plan(spark, sf_dir, "ann_lsh_top5")
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan


def test_bigram_counts_single_explode_no_join(spark, sf_dir):
    """r13 optimization pinned (OPTIMIZATION_r13.md §5): the prefix
    marginal is a SUM window over the pair-count table, not a second
    aggregate joined back — the join form re-executed the whole
    tokenize+explode subtree (the r12 'AQE exchange reuse' claim was
    disproved by a checkpoint A/B: 0.525s vs 0.600s lazy at sf0.1).
    Exactly ONE Generate (explode) node and ZERO joins may appear."""
    import re

    plan = _plan(spark, sf_dir, "docs_bigram_counts")
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert "Join" not in plan
    assert "Window" in plan
