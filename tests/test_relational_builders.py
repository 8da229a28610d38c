"""The shared vocabulary of ``plans/relational.py``.

Each Spark helper and the SQL twin the oracles embed return the same
rows on an edge-case frame, and each fragment is written once.
"""

from __future__ import annotations

import datetime
import pathlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from neo4j_enterprise_spark.plans import all_queries, oracle, relational
from neo4j_enterprise_spark.plans.relational import (
    _HOUR_EPOCH_SQL,
    _HOURLY_TOP3_SQL,
    _REV_CENTS_SQL,
    _REV_DEC_SQL,
    _cents,
    _cents_sql,
    _dense,
    _dense_sql,
    _exact_sum,
    _hour_epoch,
    _rev_cents,
    _rev_dec,
    _sessions,
    _sessions_sql,
    _top3_per_hour,
)

_T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _at(seconds: float) -> datetime.datetime:
    return _T0 + datetime.timedelta(seconds=seconds)


def _events(rows) -> pa.Table:
    """An events table in the fixture's schema from (event_id, seconds
    after ``_T0`` or None, user_id, event_type) rows."""
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [None if r[1] is None else _at(r[1]) for r in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([float(r[0]) / 7 for r in rows], pa.float64()),
            "props": pa.array(["{}" for _ in rows], pa.string()),
        }
    )


def test_cents_match_their_sql_twin(spark, sql_twin):
    # products that land on .5 exactly round away from zero on both sides
    xs = [0.005, 0.015, 0.125, 1.005, 1.115, 2.675, 56020.995, -0.005, -0.025, None]
    frame = spark.createDataFrame([(x,) for x in xs], "x double")
    con = duckdb.connect()
    con.register("t", pa.table({"x": pa.array(xs, pa.float64())}))
    for unit, edge in ((100, 1), (1000, 5)):
        want = sql_twin(
            con,
            f"SELECT x, {_cents_sql('x', unit)} AS c FROM t",
            frame.select("x", _cents("x", unit).alias("c")),
        )
        assert (0.005, edge) in want and (-0.005, -edge) in want, unit


def test_exact_sum_carries_low_parts_past_a_million(spark, sql_twin):
    # each low part is near 10⁶, so Σlo carries into the high part
    rows = [(g, 999_999 + g * 1_000_000 * k) for g in (0, 1) for k in range(1, 40)]
    rows += [(1, 1_100_000_000_999_999), (2, 0), (2, 999_999)]
    frame = spark.createDataFrame(rows, "g int, c long")
    con = duckdb.connect()
    con.register("t", pa.table({"g": [r[0] for r in rows], "c": [r[1] for r in rows]}))
    sql_twin(
        con,
        "SELECT g, CAST(SUM(c) AS VARCHAR) AS s FROM t GROUP BY g",
        frame.groupBy("g").agg(_exact_sum(F.col("c")).cast("string").alias("s")),
    )


def test_revenue_matches_its_sql_twins(spark):
    prices = [901.0, 1000.99, 0.01, 104949.5, 3.345, 1234.565]
    discs = [0.0, 0.05, 0.1, 0.07, 0.04, 0.01]
    lines = pa.table({"l_extendedprice": prices, "l_discount": discs})
    frame = spark.createDataFrame(list(zip(prices, discs)), "l_extendedprice double, l_discount double")
    con = duckdb.connect()
    con.register("lineitem", lines)
    got = con.execute(
        f"SELECT CAST(SUM({_REV_CENTS_SQL}) AS VARCHAR), "
        f"CAST(SUM({_REV_DEC_SQL}) AS VARCHAR) FROM lineitem"
    ).fetchone()
    want = frame.agg(
        _exact_sum(_rev_cents()).cast("string"), F.sum(_rev_dec()).cast("double")
    ).first()
    assert got[0] == want[0]
    assert float(got[1]) == want[1]


def test_hour_helpers_match_their_sql_twins(spark, sql_twin, tmp_path):
    # hours 0, 1 and 3 (2 is empty), ties inside an hour, NULL ts, and a
    # NULL event type tied with a named one
    rows = [
        (1, 10.5, 1, "view"), (2, 20, 1, "click"), (3, 30, 2, "view"),
        (4, 40, 2, "click"), (5, 50, 3, "purchase"), (6, 3599.999999, 1, "error"),
        (7, 3600, 1, "view"), (8, 3700, 2, "view"), (9, 11000, 3, "click"),
        (10, None, 1, "view"), (11, None, 2, "click"), (12, 11001, 1, "click"),
        (13, 11002, 2, None), (14, 11003, 3, "view"),
    ]
    pq.write_table(_events(rows), str(tmp_path / "events.parquet"))
    con = oracle.connect(str(tmp_path), ("events",))
    ev = relational.load_table(spark, str(tmp_path), "events")

    want = sql_twin(
        con,
        f"SELECT event_id, {_HOUR_EPOCH_SQL} AS hour_epoch FROM events",
        ev.select("event_id", _hour_epoch().alias("hour_epoch")),
    )
    assert (10, None) in want

    hourly = ev.groupBy(_hour_epoch().alias("hour_epoch"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    want = sql_twin(con, _HOURLY_TOP3_SQL, _top3_per_hour(hourly))
    assert (None, "click", 1, 1) in want and (1704067200 + 3 * 3600, None, 1, 2) in want

    b = ev.filter(F.col("ts").isNotNull()).groupBy(_hour_epoch().alias("hour_epoch")).agg(
        F.count("*").alias("n")
    )
    hr = b.select((F.col("hour_epoch") / 3600).cast("long").alias("hr"), "n")
    base = f"WITH b AS (SELECT {_HOUR_EPOCH_SQL} AS hour_epoch, COUNT(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1)"
    for frame, key, step, sql_b in (
        (b, "hour_epoch", 3600, base),
        (hr, "hr", None, base.replace("WITH b AS", "WITH b0 AS")
         + ", b AS (SELECT CAST(hour_epoch / 3600 AS BIGINT) AS hr, n FROM b0)"),
    ):
        dense = _dense_sql(key, "n") if step is None else _dense_sql(key, "n", step)
        want = sql_twin(con, f"{sql_b}, {dense} SELECT * FROM dense", _dense(frame, key, "n", step))
        assert len(want) == 4 and min(r[1] for r in want) == 0, key


def _session_groups(rows):
    """Sessions as the sets of their events that have a ts, per user."""
    groups: dict = {}
    for user, sid, event_id, has_ts in rows:
        if has_ts:
            groups.setdefault((user, sid), set()).add(event_id)
    return sorted((user, sorted(ids)) for (user, _), ids in groups.items())


def test_session_builder_matches_its_sql_twin(spark, tmp_path):
    # user 1: a 1800.4 s gap splits; user 2: exactly 1800 s and 1799.6 s
    # gaps do not; NULL ts rows on both users; user 3: one event
    rows = [
        (1, 0.1, 1, "view"), (2, 1800.5, 1, "click"), (3, 1900, 1, "view"),
        (4, None, 1, "error"),
        (5, 100, 2, "view"), (6, 1900, 2, "view"), (7, 3699.6, 2, "click"),
        (8, None, 2, "view"), (9, None, 2, "view"),
        (10, 50, 3, "view"),
    ]
    pq.write_table(_events(rows), str(tmp_path / "events.parquet"))
    con = oracle.connect(str(tmp_path), ("events",))
    got = _session_groups(
        con.execute(
            f"WITH {_sessions_sql()} SELECT user_id, sid, event_id, ts IS NOT NULL FROM g"
        ).fetchall()
    )
    ev = relational.load_table(spark, str(tmp_path), "events")
    want = _session_groups(
        _sessions(ev).select(
            "user_id", "session_id", "event_id", F.col("ts").isNotNull()
        ).collect()
    )
    assert got == want
    assert want == [(1, [1]), (1, [2, 3]), (2, [5, 6, 7]), (3, [10])]


def test_user_sessions_split_a_sub_second_gap(spark, tmp_path):
    """A gap of 1800.4 s opens a second session on both sides."""
    rows = [(1, 0.1, 1, "view"), (2, 1800.5, 1, "click"), (3, 0, 2, "view"), (4, 600, 2, "view")]
    pq.write_table(_events(rows), str(tmp_path / "events.parquet"))
    q = all_queries()["events_user_sessions"]
    con = oracle.connect(str(tmp_path), ("events",))
    assert con.execute(q.oracle).fetchall() == [(1, 2), (2, 1)]
    assert [tuple(r) for r in q.spark(spark, str(tmp_path)).collect()] == [(1, 2), (2, 1)]


def test_relational_writes_each_fragment_once():
    source = pathlib.Path(relational.__file__).read_text()
    oracles = "\n".join(
        q.oracle
        for q in all_queries().values()
        if q.oracle and q.spark.__module__ == relational.__name__
    )
    for fragment in (
        "epoch(date_trunc('hour'",
        "INTERVAL 30 MINUTE",
        "ROUND(l_extendedprice * 100)",
        "l_extendedprice AS DECIMAL",
        "generate_series(",
    ):
        assert source.count(fragment) <= 1, fragment
        assert oracles.count(fragment) >= 2, fragment
    for fragment in (
        'F.date_trunc("hour"',
        "F.sum(hi)",
        "F.lit(1_000_000)",
        "F.sequence(",
        "1_800_000_000",
        "F.row_number().over(w).cast(\"int\")",
    ):
        assert source.count(fragment) == 1, fragment
