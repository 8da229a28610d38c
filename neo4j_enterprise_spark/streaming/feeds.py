"""Replication-as-dataflow: the reference's update feeds as Structured
Streaming jobs (SURVEY.md §2.10).

- R1 commit stream: the txlog directory as a file streaming source —
  every committed tx appended to the logical log
  (`ServerUtil.java:181-285`).
- R2 pull micro-batch: slave polls every ``ha.pull_interval`` and applies
  all new txs (`UpdatePuller.java:57-96`) → ``trigger(processingTime)``
  + ``foreachBatch``.
- R3 push fan-out: on commit, push to ``tx_push_factor`` sinks
  best-effort (`MasterTxIdGenerator.java:158-230`).
- R4 offset tracking / exactly-once: ``RequestContext.lastAppliedTx``
  travels with every request (`RequestContext.java:25-70`) → streaming
  checkpoints + idempotent apply keyed by tx_id (dedup on write, since
  foreachBatch is at-least-once).
- R6 validate-on-ingest: `VerificationLevel.VERIFYING` runs a diff check
  per incoming tx (`CheckingTransactionInterceptor`) → checksum+rule
  gate inside the batch function, quarantine on failure.

Plus the Spark-native stream features the driver's ``events`` table
exercises: tumbling/session window aggregates, watermarked dedup and
stream-stream joins (extensions; the reference's only time trigger is
pull_interval polling).

``_drain`` runs a stream to completion (Trigger.AvailableNow). The
registry's driven-stream queries (``plans/relational.py``) run these
operators through it and compare the result with a DuckDB oracle over
the same events table:

- ``push_fanout`` — ``events_stream_pushk_parity``;
- ``stateful_user_totals`` — ``events_stream_stateful_totals``;
- ``windowed_counts`` — ``events_stream_hourly_rollup``,
  ``events_stream_hourly_append``, ``events_stream_leaderboard``;
- ``session_windows`` — ``events_stream_sessions_append``;
- ``dedup_stream`` — ``events_stream_dedup_rollup``;
- ``interval_join_streams`` — ``events_stream_interval_join``.

``txlog_stream``, ``pull_apply`` and ``enrich_stream`` are checked by
unit tests only (``tests/test_txlog_backup.py``, ``tests/test_sink.py``).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.txlog import TXLOG_SCHEMA, verify_checksums


def txlog_stream(spark: SparkSession, log_dir: str) -> DataFrame:
    """R1: the commit log directory as an ordered micro-batch source."""
    return spark.readStream.schema(TXLOG_SCHEMA).parquet(log_dir)


def pull_apply(
    stream: DataFrame,
    apply_fn,
    checkpoint_dir: str,
    state_dir: str,
    interval: str | None = None,
) -> StreamingQuery:
    """R2 + R4 + R6: micro-batch apply loop with offset tracking and
    exactly-once semantics.

    ``apply_fn(batch_df, batch_id)`` receives a *deduplicated, checksum-
    verified, tx-ordered* batch. Offsets persist in the streaming
    checkpoint (the RequestContext analog); idempotence comes from a
    high-water-mark file so re-delivered batches (at-least-once
    foreachBatch) skip already-applied txs.
    """
    hwm_path = os.path.join(state_dir, "applied_up_to.txt")

    def _batch(batch: DataFrame, batch_id: int) -> None:
        bad = verify_checksums(batch)
        if bad.limit(1).count() > 0:  # R6: quarantine, don't apply
            bad.write.mode("append").parquet(os.path.join(state_dir, "quarantine"))
            batch = batch.join(bad.select("tx_id"), "tx_id", "left_anti")
        hwm = -1
        if os.path.exists(hwm_path):
            with open(hwm_path) as f:
                hwm = int(f.read().strip() or -1)
        # dedup within the batch too: overlapping log files can deliver
        # the same tx twice inside one micro-batch
        fresh = (
            batch.dropDuplicates(["tx_id"]).filter(F.col("tx_id") > hwm).orderBy("tx_id")
        )
        if fresh.limit(1).count() == 0:
            return
        apply_fn(fresh, batch_id)
        new_hwm = fresh.agg(F.max("tx_id")).collect()[0][0]
        os.makedirs(state_dir, exist_ok=True)
        with open(hwm_path, "w") as f:
            f.write(str(new_hwm))

    writer = stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if interval is not None:  # ha.pull_interval (HaSettings.java:87-88)
        writer = writer.trigger(processingTime=interval)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _drain(stream: DataFrame, mode: str, batch_fn=None, **options) -> StreamingQuery:
    """Run ``stream`` to completion in Trigger.AvailableNow micro-batches
    and return the finished query. The sink is ``batch_fn`` (foreachBatch)
    when given, a parquet file sink when ``options`` carry a ``path``,
    else a memory table named after the query (``spark.table(q.name)``).

    The state store's partition count is fixed from
    ``spark.sql.shuffle.partitions`` at query start (a restarted
    checkpoint keeps its original count): 32 stores for a few thousand
    groups is pure per-batch setup/commit overhead (measured ~2x on the
    micro-batch wall clock), so the run pins 8 and restores the setting
    after. A real 100 TB ingest would size it to the key cardinality.
    """
    spark = stream.sparkSession
    writer = stream.writeStream.outputMode(mode).options(**options)
    if batch_fn is not None:
        writer = writer.foreachBatch(batch_fn)
    elif "path" in options:
        writer = writer.format("parquet")
    else:
        writer = writer.format("memory").queryName(f"drain_{uuid.uuid4().hex}")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    return q


def push_fanout(
    stream: DataFrame, sink_dirs: list[str], checkpoint_dir: str
) -> StreamingQuery:
    """R3: replicate each committed batch to k sinks, best-effort —
    failures on one sink don't fail the others (the reference tolerates
    push failures; slaves catch up by pulling,
    `MasterTxIdGenerator.java:205-226`). Runs to completion and returns
    the finished query."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for d in sink_dirs:
                try:
                    batch.write.mode("append").parquet(d)
                except Exception:  # noqa: BLE001 — best-effort per sink
                    pass
        finally:
            batch.unpersist()

    return _drain(stream, "append", _batch, checkpointLocation=checkpoint_dir)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event counters that survive across micro-batches.

    This is the engine's extension point for stateful logic Spark's
    built-in aggregates can't express (the streaming analog of the
    reference's per-slave session state in ``MasterImpl``'s tx tracking,
    `MasterImpl.java:102-156`). State is (n_events, total_milli) per
    user — values quantized to milli-ints, so state merges are exact;
    each batch emits the updated running totals. Arrow-batched — the
    Python hop happens once per group per batch, not per row.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # round per element, THEN sum — matches the oracle's
            # SUM(ROUND(value*1000)) exactly; a float batch-sum rounded
            # once would drift on half-unit values
            total += int(pdf["value"].mul(1000).round().astype("int64").sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_milli": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, total_milli long",
        "n_events long, total_milli long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- Spark-native event-stream features --------------------------------


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts with late-data watermark over the events
    stream (extension; batch twin = ``events_hourly_rollup``). The value
    sum runs in DECIMAL(18,2) with one final DOUBLE cast, so it matches
    the DuckDB oracle bit for bit whatever order rows arrive in."""
    total = F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), total.alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based), the streaming twin of the
    lag-based batch sessionizer (``events_user_sessions``)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup with bounded state: drop re-deliveries of the
    same key seen within the watermark horizon.

    The batch dedup ladder (operators/dedup.py) assumes it can see the
    whole corpus; an ingest stream can't, so state must age out —
    ``dropDuplicatesWithinWatermark`` keeps one entry per key and
    discards it once the event-time watermark passes (at 100 TB/day the
    state store holds only the horizon's keys, not history). Duplicates
    arriving later than the watermark are consciously let through: the
    downstream batch dedup is the backstop (dedup-on-write, the same
    two-tier contract as pull_apply's R4 idempotence).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def enrich_stream(
    stream: DataFrame, dim: DataFrame, on: list[str] | str, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment: join a micro-batch stream against a
    dimension table. Spark re-plans the static side per micro-batch, so
    a small dim broadcasts every batch (no shuffle of the stream) and
    slowly-changing dims are re-read current — the streaming twin of the
    dictionary broadcasts in the batch validation suite."""
    return stream.join(F.broadcast(dim), on, how)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with right
    events of the same ``key`` whose timestamp lies in
    ``[left_ts - upper, left_ts - lower]`` (e.g. click joined to the
    views that preceded it within 15 minutes).

    Both sides carry watermarks and the join condition is range-bounded
    on event time, which is exactly what lets Spark expire join state:
    a row can be dropped once the other side's watermark passes its
    window, so state stays proportional to the time bound — not the
    stream history — at any throughput. This is the streaming twin of
    the batch as-of/range joins (``operators/asof.py``,
    ``operators/ranges.py``); the attribution queries they answer at
    rest, this answers in flight.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts - F.expr(f"INTERVAL {upper}"))
        & (rts <= lts - F.expr(f"INTERVAL {lower}"))
    )
    return l.join(r, cond, "inner")
