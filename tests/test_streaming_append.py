"""Append-mode streaming rollup: watermark eviction + batch parity.

The production twin of the complete-mode parity harness
(`plans/relational.py:events_stream_hourly_append`): outputMode("append")
to a file sink, state dropped as the watermark closes windows.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from neo4j_enterprise_spark.catalog import load_table
from neo4j_enterprise_spark.plans import all_queries
from neo4j_enterprise_spark.plans.relational import run_events_append_rollup

QUERIES = all_queries()


def test_append_rollup_matches_batch_and_evicts_state(spark, sf_dir):
    result, progress = run_events_append_rollup(spark, sf_dir, fresh=True)
    got = [
        (r["hour_epoch"], r["event_type"], r["n_events"], round(r["total_value"], 2))
        for r in result.collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    want = [
        (r["hour_epoch"], r["event_type"], r["n_events"], round(r["total_value"], 2))
        for r in (
            ev.groupBy(
                F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
                "event_type",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .orderBy("hour_epoch", "event_type")
        ).collect()
    ]
    assert got == want, "append-mode output must equal the batch rollup"
    assert len(got) > 0

    # State eviction: at termination only OPEN windows (the sentinel's
    # own window, within the 2h watermark delay of it) may remain in the
    # state store — closed real windows must have been dropped. Complete
    # mode by contrast would retain every (window, event_type) group.
    assert progress is not None, "fresh run must report state metrics"
    ops = progress.get("stateOperators") or []
    assert ops, f"no state operator metrics in progress: {progress}"
    rows_total = ops[0]["numRowsTotal"]
    n_types = ev.select("event_type").distinct().count()
    closed_groups = len(got)
    assert rows_total <= 3 * (n_types + 1), (
        f"state store holds {rows_total} rows at termination - "
        f"watermark eviction not happening (complete-mode-like retention "
        f"would be ~{closed_groups + rows_total})"
    )
    assert rows_total < closed_groups, (
        f"state rows ({rows_total}) not smaller than total closed "
        f"groups ({closed_groups})"
    )


def test_session_append_matches_batch_and_evicts_state(spark, sf_dir):
    from neo4j_enterprise_spark.plans.relational import run_events_sessions_append

    result, progress = run_events_sessions_append(spark, sf_dir, fresh=True)
    got = [
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in result.collect()
    ]
    assert got, "session output must be non-empty"
    # batch reference: gap sessions via lag/cumsum
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    s = ev.withColumn("prev_us", F.lag(F.unix_micros("ts")).over(w)).withColumn(
        "new_s",
        F.when(
            F.col("prev_us").isNull()
            | (F.unix_micros("ts") - F.col("prev_us") > gap_us),
            1,
        ).otherwise(0),
    )
    g = s.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    want = [
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in (
            g.groupBy("user_id", "sid")
            .agg(
                F.min(F.unix_micros("ts")).alias("session_start_us"),
                (F.max(F.unix_micros("ts")) + gap_us).alias("session_end_us"),
                F.count("*").alias("n_events"),
            )
            .orderBy("user_id", "session_start_us")
        ).collect()
    ]
    assert got == want, "streaming session merge must equal batch gap sessions"
    # eviction: only the sentinel's open session may remain in state
    assert progress is not None
    rows_total = progress["stateOperators"][0]["numRowsTotal"]
    assert rows_total < len(got), (
        f"state rows ({rows_total}) not smaller than closed sessions ({len(got)})"
    )


def _events_copy(sf_dir, tmp_path, edit=lambda t: t) -> str:
    """A tmp sf_dir holding ``edit`` applied to the events table (a
    pyarrow Table); calling it again rewrites the file in place."""
    table = edit(pq.read_table(os.path.join(sf_dir, "events.parquet")))
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_append_queries_follow_a_rewritten_events_file(oracle_parity, sf_dir, tmp_path):
    """The append-mode queries keep a checkpoint and an output dir between
    runs, and a file-stream source never re-reads a path it has seen:
    after the events file is rewritten in place, each must still return
    the new file's rows, not the ones its first run saved. The dirs and
    files staged for the first file are removed once the rewritten one
    is staged."""
    names = (
        "events_stream_hourly_append",
        "events_stream_sessions_append",
        "events_stream_leaderboard",
    )
    staged = os.path.join(glob.escape(tempfile.gettempdir()), "nes_*")
    seen = set(glob.glob(staged))
    copy = _events_copy(sf_dir, tmp_path)
    before = {n: len(oracle_parity(QUERIES[n], copy, ("events",))) for n in names}
    first = set(glob.glob(staged)) - seen
    _events_copy(
        sf_dir,
        tmp_path,
        lambda t: t.filter(pc.equal(pc.bit_wise_and(t["event_id"], 1), 0)),
    )
    after = {n: len(oracle_parity(QUERIES[n], copy, ("events",))) for n in names}
    assert all(after[n] < before[n] for n in names), (before, after)
    assert first, "the first run staged nothing under the temp dir"
    assert not first & set(glob.glob(staged)), sorted(first & set(glob.glob(staged)))


def test_catchup_tail_keeps_null_ts_rows(oracle_parity, sf_dir, tmp_path):
    """A NULL ts fails both of the catch-up query's range predicates
    (backfill ts < cut, tail ts >= cut), so the backfill leg must take
    those rows, or they vanish at the snapshot/stream seam while the
    oracle keeps them as a NULL hour group."""

    def null_every_8th_ts(t):
        ts = t["ts"]
        hit = pc.equal(pc.bit_wise_and(t["event_id"], 7), 0)
        nulls = pc.if_else(hit, pa.scalar(None, ts.type), ts)
        return t.set_column(t.schema.get_field_index("ts"), "ts", nulls)

    copy = _events_copy(sf_dir, tmp_path, null_every_8th_ts)
    rows = oracle_parity(QUERIES["events_stream_catchup_tail"], copy, ("events",))
    assert any(r[0] is None for r in rows), "no NULL hour group"
