"""Tx-log replay, backup/restore, and streaming apply (M4/M5/M6)."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from neo4j_enterprise_spark.graph.generator import generate_graph
from neo4j_enterprise_spark.operators.mutation import (
    assign_ids,
    branched_data_policy,
    list_versions,
)
from neo4j_enterprise_spark.operators.record_checks import validate
from neo4j_enterprise_spark.sources import snapshot as bk
from neo4j_enterprise_spark.sources.txlog import (
    export_range,
    replay,
    synthesize_txlog,
    verify_checksums,
)
from neo4j_enterprise_spark.streaming import feeds


def test_assign_ids_dense_above_hwm(spark):
    df = spark.range(5).select(F.col("id").alias("x"))
    out = assign_ids(df, 100, ["x"])
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [101, 102, 103, 104, 105]


def test_txlog_checksums_roundtrip(spark):
    log = synthesize_txlog(spark, n_txs=50)
    assert verify_checksums(log).count() == 0
    tampered = log.withColumn(
        "payload", F.when(F.col("tx_id") == 7, F.lit('{"x":1}')).otherwise(F.col("payload"))
    )
    assert verify_checksums(tampered).count() == 1


def test_export_range_inclusive(spark):
    log = synthesize_txlog(spark, n_txs=50)
    sl = export_range(log, 10, 19)
    assert sl.count() == 10
    assert sl.agg(F.min("tx_id"), F.max("tx_id")).collect()[0] == (10, 19)


def test_replay_applies_creates_deletes_and_props(spark):
    base = generate_graph(spark, node_count=100)
    log = synthesize_txlog(spark, n_txs=60, base_nodes=100)
    out = replay(base, log)
    n_created = log.filter(F.col("op") == "create_node").count()
    deleted = {
        r["entity_id"]
        for r in log.filter(F.col("op") == "delete_node").collect()
    }
    assert out.nodes.count() == 100 + n_created - len(
        deleted & set(range(100))
    )
    # replayed graph still satisfies chain invariants for surviving rels
    # (note: deleting nodes legitimately dangles their rels → only check
    # chain symmetry rules, not endpoint rules)
    v = validate(out)
    chain_rules = v.filter(F.col("rule").contains("ReferenceBack"))
    assert chain_rules.count() == 0


def test_replay_is_idempotent_and_prefix_consistent(spark):
    base = generate_graph(spark, node_count=80)
    log = synthesize_txlog(spark, n_txs=40, base_nodes=80)
    full = replay(base, log)
    # applying a prefix then the remainder = applying everything at once
    mid = replay(base, export_range(log, 0, 19))
    resumed = replay(mid, export_range(log, 20, 39))
    a = {tuple(r) for r in full.nodes.collect()}
    b = {tuple(r) for r in resumed.nodes.collect()}
    assert a == b


def test_full_backup_restore_verified(spark, tmp_path):
    g = generate_graph(spark, node_count=100)
    d = str(tmp_path / "bk")
    bk.full_backup(g, d, last_tx=0)
    restored = bk.restore(spark, d, verify=True)
    assert restored.nodes.count() == 100
    assert restored.relationships.count() == g.relationships.count()


def test_incremental_backup_restore(spark, tmp_path):
    g = generate_graph(spark, node_count=100)
    d = str(tmp_path / "bk2")
    bk.full_backup(g, d, last_tx=-1)
    log = synthesize_txlog(spark, n_txs=30, base_nodes=100)
    bk.incremental_backup(d, log, up_to_tx=29)
    restored = bk.restore(spark, d, verify=False)
    expected = replay(g, log)
    assert restored.nodes.count() == expected.nodes.count()
    a = {tuple(r) for r in restored.nodes.collect()}
    b = {tuple(r) for r in expected.nodes.collect()}
    assert a == b


def test_chained_incremental_backups_restore(spark, tmp_path):
    # every incremental replays on top of the full backup's snapshot, so
    # restore must still find that version after the second incremental
    g = generate_graph(spark, node_count=100)
    # node deletes dangle relationships, which a verified restore refuses
    log = synthesize_txlog(spark, n_txs=45, base_nodes=100).filter(
        F.col("op") != "delete_node"
    )
    d = str(tmp_path / "bk3")
    bk.full_backup(replay(g, log, up_to_tx=14), d, last_tx=14)
    bk.incremental_backup(d, log, up_to_tx=29)
    bk.incremental_backup(d, log, up_to_tx=44)
    restored = bk.restore(spark, d, verify=True)
    expected = replay(g, log)
    for table in ("nodes", "relationships"):
        a = {tuple(r) for r in getattr(restored, table).collect()}
        b = {tuple(r) for r in getattr(expected, table).collect()}
        assert a == b, table


def test_write_graph_tables_roundtrip(spark, sf_dir, tmp_path):
    from neo4j_enterprise_spark.graph.derive import (
        derived_nodes,
        derived_rels,
        write_graph_tables,
    )

    out = str(tmp_path / "graph_out")
    write_graph_tables(spark, sf_dir, out)
    nodes = spark.read.parquet(f"{out}/nodes.parquet")
    rels = spark.read.parquet(f"{out}/rels.parquet")
    assert nodes.count() == derived_nodes(spark, sf_dir).count()
    assert rels.count() == derived_rels(spark, sf_dir).count()
    assert set(nodes.columns) == {"id", "kind", "in_use", "name"}


def test_branched_data_policy(spark, tmp_path):
    g = generate_graph(spark, node_count=20)
    root = str(tmp_path / "lineage")
    for v in (1, 2, 3):
        g.save(root, version=v)
    assert list_versions(root) == [1, 2, 3]
    assert branched_data_policy(root, "keep_last") == [3]
    assert list_versions(root) == [3]


def test_streaming_pull_apply_exactly_once(spark, tmp_path):
    log_dir = str(tmp_path / "stream_log")
    os.makedirs(log_dir)
    log = synthesize_txlog(spark, n_txs=30)
    log.filter(F.col("tx_id") < 15).coalesce(1).write.mode("append").parquet(log_dir)
    log.filter(F.col("tx_id") >= 10).coalesce(1).write.mode("append").parquet(log_dir)
    # note the overlap 10-14: at-least-once delivery must not double-apply

    applied = []

    def apply_fn(batch, batch_id):
        applied.extend(r["tx_id"] for r in batch.select("tx_id").collect())

    q = feeds.pull_apply(
        feeds.txlog_stream(spark, log_dir),
        apply_fn,
        checkpoint_dir=str(tmp_path / "ckpt"),
        state_dir=str(tmp_path / "state"),
    )
    q.awaitTermination(120)
    assert sorted(applied) == list(range(30)), f"applied: {sorted(applied)}"


def test_streaming_push_fanout(spark, tmp_path):
    log_dir = str(tmp_path / "push_log")
    os.makedirs(log_dir)
    synthesize_txlog(spark, n_txs=20).coalesce(1).write.mode("append").parquet(log_dir)
    sinks = [str(tmp_path / f"sink{i}") for i in range(3)]
    q = feeds.push_fanout(
        feeds.txlog_stream(spark, log_dir), sinks, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    for s in sinks:
        assert spark.read.parquet(s).count() == 20


def test_stateful_user_totals(spark, sf_dir, tmp_path):
    from neo4j_enterprise_spark.catalog import load_table

    src_dir = str(tmp_path / "ev_stream")
    full = load_table(spark, sf_dir, "events")
    # two chunks → state must carry across micro-batches
    full.filter(F.col("event_id") < 500).select("user_id", "ts", "value").coalesce(1).write.mode("append").parquet(src_dir)
    full.filter(F.col("event_id") >= 500).select("user_id", "ts", "value").coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src_dir)
    q = (
        feeds.stateful_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.sql(
        "SELECT user_id, max(n_events) AS n FROM user_totals GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: r["n"] for r in emitted}
    expected = {
        r["user_id"]: r["cnt"]
        for r in full.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == expected


def test_windowed_counts_batch_semantics(spark, sf_dir):
    from neo4j_enterprise_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    out = feeds.windowed_counts(ev)  # works on batch DF too (same plan)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == ev.count()


def test_interval_join_streams_pairs_within_bound(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def write(rows, d):
        spark.createDataFrame(rows, "key long, ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / d))

    # clicks at +10min; views at 0 and +20min: only the first view is
    # within [click-15min, click]
    write([(1, base + dt.timedelta(minutes=10)), (2, base + dt.timedelta(minutes=10))], "clicks")
    write(
        [(1, base), (1, base + dt.timedelta(minutes=20)), (2, base + dt.timedelta(minutes=9))],
        "views",
    )
    clicks = spark.readStream.schema("key long, ts timestamp").parquet(str(tmp_path / "clicks"))
    views = spark.readStream.schema("key long, ts timestamp").parquet(str(tmp_path / "views"))
    joined = feeds.interval_join_streams(
        clicks, views, key="key", lower="0 seconds", upper="15 minutes"
    ).select(F.col("l.key").alias("key"), F.col("l.ts").alias("click_ts"), F.col("r.ts").alias("view_ts"))
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r["key"], r["view_ts"]) for r in spark.sql("SELECT * FROM ij").collect()}
    assert got == {(1, base), (2, base + dt.timedelta(minutes=9))}


def test_branch_policies_on_forked_lineage(spark, tmp_path):
    from neo4j_enterprise_spark.graph.generator import generate_graph
    from neo4j_enterprise_spark.sources.snapshot import (
        apply_branch_policy,
        detect_divergence,
        full_backup,
    )

    g = generate_graph(spark, node_count=50)
    root = str(tmp_path / "store")
    full_backup(g, root, last_tx=0)

    # keep_all archives the store and leaves earlier archives alone
    archives = apply_branch_policy(root, "keep_all", "t1")
    assert archives == ["branched_t1"]
    assert not any(d.startswith("v") for d in os.listdir(root))
    full_backup(g, root, last_tx=1)
    archives = apply_branch_policy(root, "keep_all", "t2")
    assert archives == ["branched_t1", "branched_t2"]

    # keep_last prunes older archives
    full_backup(g, root, last_tx=2)
    archives = apply_branch_policy(root, "keep_last", "t3")
    assert archives == ["branched_t3"]

    # keep_none deletes the store without archiving
    full_backup(g, root, last_tx=3)
    archives = apply_branch_policy(root, "keep_none", "t4")
    assert archives == ["branched_t3"]
    assert not any(d.startswith("v") for d in os.listdir(root))

    with pytest.raises(ValueError):
        apply_branch_policy(root, "keep_some", "t5")


def test_detect_divergence_identical_and_forked(spark):
    from neo4j_enterprise_spark.graph.generator import generate_graph
    from neo4j_enterprise_spark.sources.snapshot import detect_divergence
    from pyspark.sql import functions as F

    g = generate_graph(spark, node_count=30)
    same = {
        (r["store"], r["side"]): r["n_rows"]
        for r in detect_divergence(g, g).collect()
    }
    assert all(n == 0 for n in same.values())

    import dataclasses

    forked = dataclasses.replace(
        g, nodes=g.nodes.withColumn("in_use", ~F.col("in_use"))
    )
    diff = {
        (r["store"], r["side"]): r["n_rows"]
        for r in detect_divergence(g, forked).collect()
    }
    assert diff[("nodes", "only_a")] == 30 and diff[("nodes", "only_b")] == 30
    assert diff[("properties", "only_a")] == 0
