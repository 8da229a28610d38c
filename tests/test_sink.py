"""Sink layout contracts: sizing, partition dirs, compaction, bucketing."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from neo4j_enterprise_spark.catalog import load_table
from neo4j_enterprise_spark.sources import sink


def _files(path: str, suffix: str = ".parquet") -> list[str]:
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if f.endswith(suffix)
    ]


def test_write_dataset_roundtrip_and_file_target(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs")
    # tiny target forces multiple files even at sf0.001
    n = sink.write_dataset(docs, out, target_file_mb=1)
    files = _files(out)
    assert len(files) == n >= 1
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_write_dataset_partition_dirs(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "by_lang")
    sink.write_dataset(docs, out, partition_by=["lang"], target_file_mb=1)
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    dirs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert dirs == {f"lang={l}" for l in langs}
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # partition column round-trips through the directory encoding
    assert {r["lang"] for r in back.select("lang").distinct().collect()} == langs


def test_write_dataset_sorted_files_are_range_clustered(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "sorted")
    n = sink.write_dataset(docs, out, sort_by=["doc_id"], target_file_mb=1)
    if n < 2:
        return  # nothing to assert about ranges with a single file
    # per-file id ranges must not overlap (footer min/max prune downstream)
    ranges = []
    for f in _files(out):
        pdf = spark.read.parquet(f).agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        ranges.append((pdf["lo"], pdf["hi"]))
    ranges.sort()
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b


def test_compact_merges_fragments(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "frag")
    docs.repartition(37).write.parquet(out)  # pathological fragmentation
    assert len(_files(out)) == 37
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    n = sink.compact(spark, out, target_file_mb=128)
    assert len(_files(out)) == n < 37
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_write_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    sink.write_bucketed(cust, "b_cust", ["c_custkey"], n_buckets=4)
    sink.write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"), "b_ord", ["c_custkey"], n_buckets=4
    )
    try:
        a, b = spark.table("b_cust"), spark.table("b_ord")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "c_custkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            expected = (
                cust.join(orders, cust["c_custkey"] == orders["o_custkey"]).count()
            )
            assert joined.count() == expected
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS b_cust")
        spark.sql("DROP TABLE IF EXISTS b_ord")


def test_dedup_stream_drops_redeliveries(spark, sf_dir, tmp_path):
    from neo4j_enterprise_spark.streaming.feeds import dedup_stream

    src = str(tmp_path / "stream_in")
    os.makedirs(src)
    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:30")],
        "event_id long, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    # same rows delivered twice (two files) + one fresh row
    events.coalesce(1).write.mode("append").parquet(src)
    events.union(
        spark.createDataFrame([(3, "2024-01-01 00:01:00")], "event_id long, ts_s string")
        .select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("event_id long, ts timestamp").parquet(src)
    out: list = []
    q = (
        dedup_stream(stream, ["event_id"], watermark="10 minutes")
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r["event_id"] for r in out) == [1, 2, 3]


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    from neo4j_enterprise_spark.catalog import load_table as lt
    from neo4j_enterprise_spark.sources.sink import write_zordered

    ev = lt(spark, sf_dir, "events").select("event_id", "user_id")
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(ev, zpath, ["event_id", "user_id"], target_file_mb=1, bits=8)
    # baseline: single-column sort on event_id only
    ev.repartitionByRange(8, "event_id").sortWithinPartitions("event_id").write.parquet(spath)

    def avg_span(path: str, col: str) -> float:
        lo, hi = ev.agg(F.min(col), F.max(col)).collect()[0]
        spans = []
        for f in _files(path):
            r = spark.read.parquet(f).agg(F.min(col).alias("a"), F.max(col).alias("b")).collect()[0]
            spans.append((r["b"] - r["a"]) / max(hi - lo, 1))
        return sum(spans) / len(spans)

    if len(_files(zpath)) < 4:
        return  # not enough files at this sf to measure clustering
    # z-order keeps BOTH dims clustered; the 1-d sort leaves user_id unclustered
    assert avg_span(zpath, "event_id") < 0.6
    assert avg_span(zpath, "user_id") < 0.6
    assert avg_span(spath, "user_id") > avg_span(zpath, "user_id")


def test_engine_facade_surface(spark, sf_dir):
    from neo4j_enterprise_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    assert eng.node(1).count() == 1
    adj = eng.adjacency(1, direction="out", types=["PLACED"])
    assert adj.filter(F.col("src") != 1).count() == 0
    m = eng.match("(n:nation)-[:IN_REGION]->(r:region)", attach={"r": ["name"]})
    assert {"n", "r", "r_name"} <= set(m.columns) and m.count() > 0
    assert eng.bfs([1, 2], k=1).count() > 0
    assert "q1_pricing_summary" in eng.query_names()
    assert eng.query("q1_pricing_summary").count() > 0
    try:
        eng.query("nope")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_engine_validate_matches_registry_query(spark, sf_dir):
    from neo4j_enterprise_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    got = eng.validate()
    want = eng.query("endpoints_not_in_use")
    assert got.columns == want.columns
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_enrich_stream_broadcast_join(spark, sf_dir, tmp_path):
    from neo4j_enterprise_spark.streaming.feeds import enrich_stream

    src = str(tmp_path / "enrich_in")
    os.makedirs(src)
    spark.createDataFrame([(1, 0), (2, 1), (3, 99)], "event_id long, n_nationkey int") \
        .coalesce(1).write.mode("append").parquet(src)
    dim = spark.read.parquet(f"{sf_dir}/nation.parquet")
    stream = spark.readStream.schema("event_id long, n_nationkey int").parquet(src)
    out: list = []
    q = (
        enrich_stream(stream, dim, "n_nationkey")
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "eckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by_id = {r["event_id"]: r for r in out}
    assert len(by_id) == 3
    assert by_id[1]["n_name"] is not None and by_id[3]["n_name"] is None  # left join


def test_engine_facade_cypher_and_pipeline(spark, sf_dir):
    from pyspark.sql import functions as F

    from neo4j_enterprise_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    out = eng.cypher(
        "MATCH (s:supplier)-[:SUPP_NATION]->(n) RETURN n, count(s) AS ns ORDER BY n"
    )
    assert out.count() > 0
    assert eng.dedup_exact().columns == ["content_hash", "keep_doc_id", "n_copies"]
    seeds = eng.table("embeddings").filter(F.col("vec_id") < 3)
    ann = eng.ann(seeds, k=2, method="exact")
    assert ann.count() == 6
    prof = eng.profile("events", ["user_id", "value"])
    assert prof.count() == 2


def test_jsonl_roundtrip_lossless(spark, tmp_path):
    from neo4j_enterprise_spark.sources.sink import export_jsonl, import_jsonl

    df = spark.createDataFrame(
        [(1, "a", True), (2, "b", False), (3, None, True)],
        "id long, name string, flag boolean",
    )
    out = str(tmp_path / "jsonl")
    export_jsonl(df, out)
    back = import_jsonl(spark, out, "id long, name string, flag boolean")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_read_evolved_fills_defaults_only_for_missing_columns(spark, tmp_path):
    from neo4j_enterprise_spark.sources.sink import read_evolved

    old = spark.createDataFrame([(1, "x")], "k long, name string")
    new = spark.createDataFrame(
        [(2, "y", 9.5, "SEG")], "k long, name string, bal double, seg string"
    )
    d1, d2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    old.write.parquet(d1)
    new.write.parquet(d2)
    got = {
        r.k: (r.name, r.bal, r.seg)
        for r in read_evolved(
            spark, [d1, d2], {"bal": 0.0, "seg": "UNKNOWN"}
        ).collect()
    }
    assert got == {1: ("x", 0.0, "UNKNOWN"), 2: ("y", 9.5, "SEG")}


def test_engine_facade_structure_analytics(spark, sf_dir):
    from neo4j_enterprise_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    sim = eng.similar_nodes(top_k=5)
    assert set(sim.columns) == {
        "node_a", "node_b", "n_shared", "deg_a", "deg_b", "jaccard"
    }
    assert sim.count() <= 5
    scc = eng.scc()
    assert set(scc.columns) == {"node_id", "scc_id"}
    # the derived graph is a DAG — every SCC is a singleton
    assert scc.filter(F.col("node_id") != F.col("scc_id")).count() == 0
    cand = spark.createDataFrame(
        [("customer", "Customer#000000001"), ("customer", "Customer#zzz")],
        "kind string, name string",
    )
    merged = eng.merge(
        cand, match_keys=["kind", "name"], high_water=9_000_000
    )
    assert merged.filter(F.col("name") == "Customer#zzz").count() == 1
    assert merged.count() == eng.nodes().count() + 1
