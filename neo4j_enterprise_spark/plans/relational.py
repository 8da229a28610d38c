"""Relational declared queries (TPC-H-shaped) over the driver testdata.

These exercise the engine's scan → filter → join → aggregate → window →
top-k pipeline on the star schema; the ``bench=True`` ones are the bench
headline set. All plans are pure DataFrame API — Catalyst does
pushdown/pruning/join-selection; `.explain` on each shows PushedFilters
and broadcast of the dimension sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import _normalize_ts, _temp, load_table
from ..operators.rankings import argmax, top_k_per_group
from ..streaming import feeds
from . import register

DEC = "decimal(18,2)"

# --- the shared vocabulary ---------------------------------------------
# Each piece that several queries share is written once below: a Spark
# helper and, where oracles share it, its SQL twin. Oracles share text
# only with other oracles, never with a Spark plan, so every twin stays
# independent.


def _d(c: str) -> F.Column:
    return F.col(c).cast(DEC)


# DECIMAL(18,2) money: sums stay exact, cast to DOUBLE once at the end.
_PRICE_DEC_SQL = "CAST(l_extendedprice AS DECIMAL(18,2))"
_REV_DEC_SQL = f"{_PRICE_DEC_SQL} * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _rev_dec() -> F.Column:
    """Discounted revenue price·(1 − disc) in DECIMAL (``_REV_DEC_SQL``)."""
    return _d("l_extendedprice") * (F.lit(1) - _d("l_discount"))


def _cents(c: str, unit: int = 100) -> F.Column:
    """``c`` as an exact integer count of 1/``unit``: round(c·unit) as a
    long (cents at 100, milli-units at 1000). Long sums of these run as
    primitive arithmetic in codegen; both engines round half away from
    zero."""
    return F.round(F.col(c) * unit).cast("long")


def _cents_sql(x: str, unit: int = 100) -> str:
    """Twin of ``_cents``."""
    return f"CAST(ROUND({x} * {unit}) AS BIGINT)"


def _rev_cents() -> F.Column:
    """Discounted revenue in 1/10⁴ units, exact: with money in cents,
    price·(1 − disc) ≡ pq·(100 − dq) (``_REV_CENTS_SQL``)."""
    return _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))


_REV_CENTS_SQL = f"{_cents_sql('l_extendedprice')} * (100 - {_cents_sql('l_discount')})"


def _exact_sum(c: F.Column) -> F.Column:
    """Exact Σc (c ≥ 0) as decimal(38,0) from two primitive-long sums.

    A DECIMAL sum past precision 18 pays BigDecimal arithmetic per row;
    split c = hi·10⁶ + lo instead, sum hi and lo as longs inside codegen
    and reassemble Σhi·10⁶ + Σlo in DECIMAL once per group. hi divides
    an exact multiple of 10⁶ below 2⁵³, so its double round-trip is
    exact; lo < 10⁶ keeps Σlo inside int64 up to 9·10¹² rows per group.
    The reassembled integer equals the oracle's SUM, so the final double
    is bit-equal to it.
    """
    m = F.lit(1_000_000)
    lo = c % m
    hi = ((c - lo) / m).cast("long")
    return F.sum(hi).cast("decimal(38,0)") * m + F.sum(lo).cast("decimal(38,0)")


def _hour_epoch() -> F.Column:
    """Epoch seconds of the hour ``ts`` falls in (``_HOUR_EPOCH_SQL``)."""
    return F.unix_timestamp(F.date_trunc("hour", F.col("ts")))


_HOUR_EPOCH_SQL = "CAST(epoch(date_trunc('hour', ts)) AS BIGINT)"


def _top3_per_hour(hourly: DataFrame) -> DataFrame:
    """The three event types with the most events in each ``hour_epoch``
    of ``hourly`` (ties to the lower type), ranked ``rk`` 1..3. The rank
    window runs on the aggregated buckets, never the raw events."""
    w = Window.partitionBy("hour_epoch").orderBy(F.desc("n_events"), "event_type")
    return (
        hourly.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("hour_epoch", "event_type", "n_events", "rk")
        .orderBy("hour_epoch", "rk")
    )


# A row's rank is 1 + the rows of its hour that order ahead of it (a NULL
# event type first, as in Spark's ascending sort). DuckDB 1.0's
# ROW_NUMBER() OVER (PARTITION BY hour_epoch …) gave both rows of a NULL
# hour rank 1 on about a third of 4-thread runs; the count gives the same
# ranks on every run.
_HOURLY_TOP3_SQL = f"""
    WITH b AS (
      SELECT {_HOUR_EPOCH_SQL} AS hour_epoch,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT a.hour_epoch, a.event_type, a.n_events,
             CAST(1 + COUNT(c.n_events) AS INT) AS rk
      FROM b AS a LEFT JOIN b AS c
        ON c.hour_epoch IS NOT DISTINCT FROM a.hour_epoch
       AND (c.n_events > a.n_events
            OR (c.n_events = a.n_events
                AND (c.event_type < a.event_type
                     OR (c.event_type IS NULL AND a.event_type IS NOT NULL))))
      GROUP BY 1, 2, 3)
    SELECT hour_epoch, event_type, n_events, rk
    FROM r WHERE rk <= 3 ORDER BY hour_epoch, rk
    """


def _dense(b: DataFrame, key: str, n: str, step: int | None = None) -> DataFrame:
    """``b``'s count ``n`` on the dense grid of ``key`` from its minimum
    to its maximum, ``step`` apart (default 1), 0 where ``b`` has no row.
    The grid is generated from the bounds: O(grid), never O(events)."""
    bounds = b.agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), None if step is None else F.lit(step))
        ).alias(key)
    )
    return grid.join(b, key, "left").select(key, F.coalesce(F.col(n), F.lit(0)).alias(n))


def _dense_sql(key: str, n: str, step: int = 1) -> str:
    """CTEs ``bounds``, ``grid``, ``dense``: twin of ``_dense`` over CTE ``b``."""
    return f"""bounds AS (SELECT MIN({key}) AS lo, MAX({key}) AS hi FROM b),
    grid AS (SELECT unnest(generate_series(lo, hi, {step})) AS {key} FROM bounds),
    dense AS (SELECT g.{key}, COALESCE(b.{n}, 0) AS {n}
              FROM grid g LEFT JOIN b USING ({key}))"""


def _timed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events that have a ``ts``. Rows without one cannot be
    time-ordered, and Spark and DuckDB disagree on NULL sort position
    and on NULL comparisons inside window and as-of logic, so every
    time-ordered query drops them, and its oracle says so."""
    return load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())


def _sessions(events: DataFrame) -> DataFrame:
    """``events`` plus ``ts_us`` (``ts`` in epoch µs), ``new_session`` (1
    on a user's first event and on one more than 30 minutes after the
    user's previous event) and ``session_id`` (the running count of
    ``new_session`` per user), in (ts, event_id) order. The gap compares
    exact µs, as the oracle's interval compare does; NULL ``ts`` is left
    to the caller."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    return (
        events.withColumn("ts_us", F.unix_micros("ts"))
        .withColumn(
            "new_session",
            (prev.isNull() | ((F.col("ts_us") - prev) > 1_800_000_000)).cast("int"),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )


_SESSION_GAP_SQL = "INTERVAL 30 MINUTE"


def _sessions_sql(where: str = "TRUE") -> str:
    """CTEs ``s``, ``g``: twin of ``_sessions`` over ``events WHERE
    where`` (``new_s``, ``sid``)."""
    return f"""s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > {_SESSION_GAP_SQL}
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE {where}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, ts, event_id, new_s,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )"""


# The batch oracle of both session-window queries, streamed and batch.
_SESSION_WINDOWS_SQL = f"""
    WITH {_sessions_sql("ts IS NOT NULL")}
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(MAX(ts) + {_SESSION_GAP_SQL}) AS BIGINT) AS session_end_us,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us
    """

# The batch oracle of both driven hourly rollups (complete and append).
_STREAM_HOURLY_SQL = f"""
    SELECT {_HOUR_EPOCH_SQL} AS hour_epoch,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({_cents_sql('l_quantity')}) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM({_cents_sql('l_extendedprice')}) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM({_REV_CENTS_SQL} * (100 + {_cents_sql('l_tax')}))
                AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(SUM({_cents_sql('l_quantity')}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
           CAST(SUM({_cents_sql('l_extendedprice')}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
           CAST(SUM({_cents_sql('l_discount')}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1999-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: the canonical scan+agg with partial "
    "aggregation (map-side combine). Money is in exact cents, so "
    "price·(1−d)·(1+t) ≡ pq·(100−dq)·(100+tq) runs as int64 multiplies "
    "instead of DECIMAL ones, and the money sums are `_exact_sum` "
    "hi/lo split sums (5.1 s → 2.1 s at sf10 against decimal(27,0) "
    "sums). The oracle's division sequence at the end keeps every "
    "output bit-exact.",
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qq, pq, dq = _cents("l_quantity"), _cents("l_extendedprice"), _cents("l_discount")
    disc_price_q = _rev_cents()
    charge_q = disc_price_q * (F.lit(100) + _cents("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # qty/discount quantize to ≤5100/≤100 — plain long sums are
            # safe to ~10¹⁵ rows per group
            (F.sum(qq).cast("double") / F.lit(100.0)).alias("sum_qty"),
            (_exact_sum(pq).cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (_exact_sum(disc_price_q).cast("double") / F.lit(10000.0)).alias(
                "sum_disc_price"
            ),
            (_exact_sum(charge_q).cast("double") / F.lit(1000000.0)).alias("sum_charge"),
            (F.sum(qq).cast("double") / F.lit(100.0) / F.count("*")).alias("avg_qty"),
            (_exact_sum(pq).cast("double") / F.lit(100.0) / F.count("*")).alias(
                "avg_price"
            ),
            (F.sum(dq).cast("double") / F.lit(100.0) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    f"""
    SELECT o.o_orderkey,
           CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-03-15'
      AND l.l_shipdate > DATE '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3: selective dim filter (broadcast), fact join, agg + "
    "deterministic top-10. Revenue is the exact-cent `_exact_sum` (a "
    "decimal(18,2) product summed in a >18-precision buffer pays "
    "BigDecimal per row), and the fact join is shuffle_hash so the "
    "lineitem side never sorts.",
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("date")
    )
    co = F.broadcast(c).join(o, c["c_custkey"] == o["o_custkey"])
    return (
        # the hint sits on the JOINED (customer⋈orders) frame so it
        # resolves to the lineitem join (a hint on o alone would bind
        # to the broadcast join above and be discarded)
        co.hint("shuffle_hash")
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg((_exact_sum(_rev_cents()).cast("double") / F.lit(10000.0)).alias("revenue"))
        .select(
            "o_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    f"""
    SELECT n.n_name,
           CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    doc="TPC-H Q5: 6-way join. Revenue is computed in exact cents "
    "(×2.2 cheaper than DECIMAL multiplies, 0.56 s → 0.40 s per "
    "lineitem pass at sf1) and summed by `_exact_sum`, with one "
    "sum→double conversion and one ÷10⁴ at the end, the oracle's IEEE "
    "sequence. The dimension side is joined first: the date-sliced "
    "orders ⋈ customer on custkey, projected to (orderkey, nationkey), "
    "then that against the fact on orderkey, so the custkey exchange "
    "moves to the orders slice and the fact's joined output never "
    "re-shuffles (on an orderkey-bucketed layout the fact side's "
    "exchange goes too). Both joins are shuffle_hash (4.25 s → 3.10 s for the "
    "core joins at sf10): the fact side never sorts, the build sides "
    "hash per partition under AQE sizing (the scale-safe middle "
    "between a sort-merge join's fact sort and a static broadcast); at "
    "broadcast-small runtime sizes AQE still upgrades them to "
    "broadcasts.",
    bench=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_cents().alias("rev_q")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # the (orderkey, nationkey) dimension side, built before the fact join
    oc = (
        o.join(c.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    return (
        li.join(oc.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            (_exact_sum(F.col("rev_q")).cast("double") / F.lit(10000.0)).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q6_forecast_revenue",
    f"""
    SELECT CAST(SUM({_PRICE_DEC_SQL} * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure pushed-down filter + global agg "
    "(PushedFilters on shipdate/discount/quantity).",
    bench=True,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(_d("l_extendedprice") * _d("l_discount")).cast("double").alias("revenue"))
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: the correlated EXISTS compiles to one inner "
    "join of the fact against the DATE-FILTERED orders slice (small → "
    "Catalyst auto-broadcasts it, so the fact never shuffles for the "
    "join) with the non-equi lateness term as a join predicate, then "
    "count_distinct(orderkey) per priority — partial distinct is "
    "map-side, so the only shuffle carries the matched-order keys. "
    "Profiled at sf1: 5.5x faster than the previous "
    "aggregate-the-whole-fact (max shipdate per EVERY order) shape, "
    "which paid a 6M-group hash aggregate for a 114k-order window. At "
    "100 TB the orders slice outgrows broadcast and AQE falls back to "
    "a key-partitioned join — still one fact-sized map pass and one "
    "small shuffle.",
    bench=True,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("date"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        # the date-window lower bound implies l_shipdate > 1997-01-01 —
        # stating it redundantly reaches the parquet scan as a pushed
        # filter (row-group pruning at rest; 2.39s -> 1.92s at sf10)
        # where the join's non-equi l_shipdate > o_orderdate cannot
        li.filter(F.col("l_shipdate") > F.lit("1997-01-01").cast("date"))
        .join(
            # shuffle-hash, not sort-merge: the fact side never sorts
            # (2.19s -> 1.75s at sf10); the build side is the date-
            # filtered orders slice PER PARTITION, which AQE sizes —
            # scale-safe where a static broadcast of the slice is not
            o.hint("shuffle_hash"),
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count_distinct("o_orderkey").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue,
           n.n_name
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, top 20. "
    "Revenue is the exact-cent `_exact_sum` like q5, with one "
    "sum→double cast and one ÷10⁴ at the end. No per-order "
    "pre-aggregate: it only shrinks the returned-lineitem side "
    "1.5M → 1.0M rows at sf1 and costs its own hash aggregate "
    "(dropping it: 1.28 s → 1.03 s). The rest of the gap to DuckDB "
    "(0.29 s) is the three shuffle legs (lineitem and orders by "
    "orderkey, the join by custkey, ~0.38 s together) that a "
    "partitioned engine pays and a single-node pipelined hash join "
    "does not, plus the ~0.1 s scheduler floor.",
    bench=True,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    # shuffle-hash: the static planner broadcast a fact-sized orders
    # relation here (~300 MB at sf1, degrading 4.7s -> 11s across runs)
    return (
        li.select("l_orderkey", _rev_cents().alias("rq"))
        .hint("shuffle_hash")
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(_exact_sum(F.col("rq")).alias("rev_cust"))
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_cust").cast("double") / F.lit(10000.0)).alias("revenue"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_effect",
    f"""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_DEC_SQL}
                    ELSE 0 END) AS DOUBLE)
           / CAST(SUM({_REV_DEC_SQL}) AS DOUBLE)
           * 100 AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1997-09-01' AND l.l_shipdate < DATE '1997-10-01'
    """,
    doc="TPC-H Q14 shape: conditional aggregation ratio; part side broadcast.",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("date"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = _rev_dec()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            (
                F.sum(promo).cast("double") / F.sum(rev).cast("double") * F.lit(100)
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice, rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
    WHERE rk <= 3
    ORDER BY o_custkey, rk
    """,
    doc="O1 top-k per group: the tx-push-factor take-k "
    "(`MasterTxIdGenerator.java:158-230`) as a rank window.",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        top_k_per_group(
            o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "rk",
        )
        .orderBy("o_custkey", "rk")
    )


@register(
    "election_winner_per_nation",
    """
    SELECT c_nationkey, c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer)
    WHERE rk = 1
    ORDER BY c_nationkey
    """,
    doc="O2 election argmax-with-tiebreak "
    "(`DefaultElectionCredentials.java:42-55`): highest credential wins, "
    "ties to lowest id.",
)
def election_winner_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        argmax(c, ["c_nationkey"], [F.desc("c_acctbal"), F.asc("c_custkey")])
        .select(
            "c_nationkey",
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("acctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "record_counts_per_table",
    """
    SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
    UNION ALL SELECT 'documents', COUNT(*) FROM documents
    UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'nation', COUNT(*) FROM nation
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    UNION ALL SELECT 'part', COUNT(*) FROM part
    UNION ALL SELECT 'region', COUNT(*) FROM region
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
    ORDER BY tbl
    """,
    doc="A2 record counts per store (`DataGenerator.java:206-211` "
    "printCount per store).",
)
def record_counts_per_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import TABLES

    parts = [
        load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("tbl"), F.count("*").alias("n")
        )
        for t in sorted(TABLES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("tbl")


@register(
    "property_projection_default",
    """
    SELECT o.o_orderkey AS rel_id,
           COALESCE(c_live.c_name, '<deleted>') AS owner_name
    FROM orders o
    LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 <> 0) c_live
      ON o.o_custkey = c_live.c_custkey
    WHERE o.o_orderkey < 500
    ORDER BY rel_id
    """,
    doc="P1 getProperty(key, default) (`LockableNode.java:60-66`): "
    "property projection with default for missing/deleted owners "
    "(deleted = the derived graph's not-in-use customers).",
)
def property_projection_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 != 0)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left")
        .select(
            F.col("o_orderkey").alias("rel_id"),
            F.coalesce(F.col("c_name"), F.lit("<deleted>")).alias("owner_name"),
        )
    )


@register(
    "q18_large_volume_customers",
    f"""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice,
           CAST(SUM({_cents_sql('l_quantity')}) AS DOUBLE) / 100.0 AS total_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    HAVING SUM({_cents_sql('l_quantity')}) > 15000
    ORDER BY totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape: HAVING over a fact aggregation, top-20. "
    "Quantity is summed in exact cents as primitive longs (≤7 "
    "lineitems per order, so the long sum is safe at any scale) and "
    "HAVING compares exact integers. The fact aggregate was 88% of "
    "this query's wall time as a DECIMAL sum; it now runs as "
    "whole-stage-codegen long arithmetic.",
    bench=True,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # pre-aggregate the fact table BEFORE joining dims: the HAVING filter
    # runs on the grouped orderkey set (150k rows, not 600k join rows) and
    # the surviving keys are tiny → both dim joins become broadcasts.
    # At 100 TB this ordering is the difference between shuffling the fact
    # table twice and shuffling it once.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents("l_quantity")).alias("qty_q"))
        .filter(F.col("qty_q") > 15000)
    )
    # shuffle-hash with the aggregated side as build: the static
    # planner's pruned-column size estimate prices the orders scan
    # under the broadcast threshold and ships a fact-sized hashed
    # relation (~300 MB at sf1, OOM territory at 100 TB). Costs ~0.3s
    # at sf0.1 vs the (wrong-at-scale) broadcast; scales.
    return (
        big.hint("shuffle_hash").join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            (F.col("qty_q").cast("double") / F.lit(100.0)).alias("total_qty"),
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({_REV_DEC_SQL}) AS r
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(rev.r AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.r = (SELECT MAX(r) FROM rev)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 shape: max-revenue supplier via agg + scalar subquery "
    "(decimal-exact so the max comparison is unambiguous).",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev_dec()).alias("r"))
    max_r = rev.agg(F.max("r").alias("m"))
    return (
        s.join(rev, s["s_suppkey"] == rev["l_suppkey"])
        .join(F.broadcast(max_r), F.col("r") == F.col("m"))
        .select("s_suppkey", "s_name", F.col("r").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "q7_volume_shipping",
    f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_REV_DEC_SQL}) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_nationkey <> sn.n_nationkey
      AND l.l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      AND cn.n_nationkey < 4 AND sn.n_nationkey < 4
    GROUP BY cn.n_name, sn.n_name, EXTRACT(year FROM l.l_shipdate)
    ORDER BY cust_nation, supp_nation, l_year
    """,
    doc="TPC-H Q7 shape: cross-nation trade volume by year (double "
    "nation dim join, year extraction).",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 4)
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == o["o_orderkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("c_nk") != F.col("s_nk"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


@register(
    "q8_market_share",
    f"""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             {_REV_DEC_SQL} AS rev,
             sn.n_name AS supp_nation
      FROM customer c
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN region r   ON cn.n_regionkey = r.r_regionkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_regionkey = 0
        AND o.o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = (SELECT n_name FROM nation WHERE n_nationkey = 1)
                         THEN rev ELSE 0 END) AS DOUBLE)
           / CAST(SUM(rev) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
    doc="TPC-H Q8 shape: market share of one supplier nation within a "
    "customer region, by year (exact-decimal numerator/denominator).",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cn = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_regionkey") == 0)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    vol = (
        c.join(F.broadcast(cn), c["c_nationkey"] == cn["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(o, o["o_custkey"] == c["c_custkey"])
        .join(li, F.col("l_orderkey") == o["o_orderkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            # the target-nation flag rides the broadcast dim instead of a
            # driver-side collect() — the plan stays closed (no scalar
            # round-trip), same result
            F.broadcast(
                cn.select(
                    F.col("n_nationkey").alias("s_nk"),
                    (F.col("n_nationkey") == 1).alias("is_target_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _rev_dec().alias("rev"),
            "is_target_nation",
        )
    )
    num = F.sum(F.when(F.col("is_target_nation"), F.col("rev")).otherwise(F.lit(0).cast(DEC)))
    return (
        vol.groupBy("o_year")
        .agg((num.cast("double") / F.sum("rev").cast("double")).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "q17_small_quantity_revenue",
    f"""
    WITH pq AS (SELECT l_partkey,
                       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                       COUNT(*) AS cnt
                FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM({_PRICE_DEC_SQL}) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      -- l_quantity < 0.2 * avg(part qty), division-free and exact:
      AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pq.cnt < pq.sum_qty
    """,
    doc="TPC-H Q17 shape: below-average-quantity revenue (correlated "
    "average as a division-free decimal comparison).",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    pq = li.groupBy("l_partkey").agg(
        F.sum(_d("l_quantity")).alias("sum_qty"), F.count("*").alias("cnt")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(pq.withColumnRenamed("l_partkey", "pq_partkey"), F.col("pq_partkey") == li["l_partkey"])
        .filter(_d("l_quantity") * F.lit(5) * F.col("cnt") < F.col("sum_qty"))
        .agg((F.sum(_d("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: orders-per-customer distribution. The fact "
    "table is aggregated to per-customer counts FIRST (map-side "
    "combinable: one narrow shuffle of 150k partials, not 1.5M joined "
    "rows), then LEFT-joined onto the customer dimension with "
    "coalesce(0) for the order-less customers — same result as "
    "left-join-then-count, one fact shuffle cheaper. 26x -> ~2x vs "
    "DuckDB at sf1.",
    bench=True,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    oc = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    per_cust = c.join(oc, c["c_custkey"] == oc["o_custkey"], "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q16_parts_supplier_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (1, 5, 10, 15, 20)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape: distinct-aggregation over a dimension join.",
)
def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 5, 10, 15, 20))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q22_global_sales_opportunity",
    """
    WITH pos AS (SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_custkey, c_nationkey
                 FROM customer WHERE c_acctbal > 0.0),
         stats AS (SELECT SUM(bal) AS total, COUNT(*) AS n FROM pos)
    SELECT c.c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c, stats
    -- acctbal > avg without decimal division: bal * n > total (exact)
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * stats.n > stats.total
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                                                AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY c.c_nationkey ORDER BY c.c_nationkey
    """,
    doc="TPC-H Q22 shape: above-average filter (decimal-exact, "
    "division-free) + anti-join against the customers with an order "
    "since 2000-01-01. Every test-data customer has some order, so the "
    "anti-join is scoped to the recent orders: it keeps the lapsed "
    "customers (5 at sf0.001, 55 at sf0.01).",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0.0).select(_d("c_acctbal").alias("bal"))
    stats = pos.agg(F.sum("bal").alias("total"), F.count("*").alias("n"))
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
    no_orders = c.join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
    return (
        no_orders.join(F.broadcast(stats))
        .filter(_d("c_acctbal") * F.col("n") > F.col("total"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_d("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "q11_part_value_threshold",
    f"""
    WITH ns AS (SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_3'),
    val AS (SELECT l_partkey, SUM({_REV_DEC_SQL}) AS v
            FROM lineitem JOIN ns ON l_suppkey = ns.s_suppkey
            GROUP BY l_partkey),
    tot AS (SELECT SUM(v) AS t FROM val)
    SELECT l_partkey AS partkey, CAST(v AS DOUBLE) AS part_value
    FROM val, tot
    -- v > 0.001 * t without decimal division: v * 1000 > t (exact)
    WHERE v * 1000 > t
    ORDER BY part_value DESC, partkey
    """,
    doc="TPC-H Q11 shape (testdata has no partsupp — supplied value from "
    "lineitem instead of ps_supplycost*ps_availqty, same plan): group "
    "value per part for one nation's suppliers, keep parts above a "
    "fraction of the nation total. The scalar subquery is a broadcast "
    "crossJoin of the 1-row total (no second fact scan; q8/q15 pattern); "
    "threshold compared division-free in exact DECIMAL.",
)
def q11_part_value_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = (
        s.join(F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
               s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(ns), li["l_suppkey"] == ns["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(_rev_dec()).alias("v"))
    )
    tot = val.agg(F.sum("v").alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v") * 1000 > F.col("t"))
        .select(F.col("l_partkey").alias("partkey"), F.col("v").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "partkey")
    )


@register(
    "q12_delay_class_priority",
    """
    SELECT delay_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE) + 60
                  THEN 'LATE' ELSE 'ONTIME' END AS delay_class
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01')
    GROUP BY delay_class ORDER BY delay_class
    """,
    doc="TPC-H Q12 shape (testdata has no l_shipmode/receiptdate — the "
    "category is the ship-delay class, lateness = shipdate 60+ days "
    "after orderdate): fact join + conditional CASE aggregation into "
    "high/low priority counts per class, the exact Q12 plan.",
)
def q12_delay_class_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate").cast("date") >= F.date_add(F.col("o_orderdate").cast("date"), 60)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.when(late, F.lit("LATE")).otherwise(F.lit("ONTIME")).alias("delay_class"),
            F.when(high, 1).otherwise(0).alias("is_high"),
        )
        .groupBy("delay_class")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            F.sum(F.lit(1) - F.col("is_high")).alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


@register(
    "q20_supplier_part_share",
    """
    WITH bolt AS (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt'),
    sp AS (SELECT l_partkey, l_suppkey,
                  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
           FROM lineitem JOIN bolt ON l_partkey = p_partkey
           GROUP BY l_partkey, l_suppkey),
    ptot AS (SELECT l_partkey, SUM(q) AS tq FROM sp GROUP BY l_partkey)
    SELECT DISTINCT s_suppkey AS suppkey, s_name AS supp_name
    FROM sp
    JOIN ptot USING (l_partkey)
    JOIN supplier ON s_suppkey = l_suppkey
    -- q > 0.1 * tq without decimal division: q * 10 > tq (exact)
    WHERE q * 10 > tq
    ORDER BY suppkey
    """,
    doc="TPC-H Q20 shape (no partsupp — shipped quantity instead of "
    "availqty, same plan): suppliers providing >10%% of a filtered part "
    "family's volume. Name-filtered parts broadcast into the fact agg; "
    "the half-of-total comparison joins the per-(part,supplier) "
    "aggregate against its per-part rollup — one fact shuffle, then a "
    "semi-join-shaped DISTINCT projection onto supplier.",
)
def q20_supplier_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").endswith("bolt"))
    s = load_table(spark, sf_dir, "supplier")
    sp = (
        li.join(F.broadcast(p.select("p_partkey")), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_d("l_quantity")).alias("q"))
    )
    ptot = sp.groupBy(F.col("l_partkey").alias("pk")).agg(F.sum("q").alias("tq"))
    return (
        sp.join(ptot, sp["l_partkey"] == ptot["pk"])
        .filter(F.col("q") * 10 > F.col("tq"))
        .join(s, sp["l_suppkey"] == s["s_suppkey"])
        .select(F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("supp_name"))
        .distinct()
        .orderBy("suppkey")
    )


@register(
    "q21_sole_late_supplier",
    """
    WITH ol AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90
                  THEN 1 ELSE 0 END AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    agg AS (SELECT l_orderkey, l_suppkey, MAX(late) AS late
            FROM ol GROUP BY l_orderkey, l_suppkey),
    per_order AS (SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
                  FROM agg GROUP BY l_orderkey)
    SELECT a.l_suppkey AS suppkey, COUNT(*) AS numwait
    FROM agg a JOIN per_order p USING (l_orderkey)
    WHERE a.late = 1 AND p.n_supp > 1 AND p.n_late = 1
    GROUP BY a.l_suppkey
    ORDER BY numwait DESC, suppkey
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (no receipt/commit dates — late = shipped 90+ "
    "days after order date): suppliers who were the SOLE late supplier "
    "on a multi-supplier order. The correlated EXISTS / NOT-EXISTS pair "
    "of the reference SQL re-expressed Spark-first as per-(order,"
    "supplier) then per-order aggregates joined back — two narrow "
    "shuffles on the same key (AQE-local), no correlated re-scans of "
    "the fact table.",
    bench=True,  # the EXISTS/NOT-EXISTS→aggregate rendering is a scale path
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    late = F.col("l_shipdate").cast("date") > F.date_add(F.col("o_orderdate").cast("date"), 90)
    # shuffle-hash (orders as build): the join partitions on
    # l_orderkey, which the groupBy and the windows below REUSE — zero
    # further exchanges; the auto-chosen orders broadcast still pays
    # the full fact shuffle at the groupBy anyway plus the fact-sized
    # hashed relation (the q18 static-estimate defect). 3.2s -> 1.9s
    # at sf1.
    agg = (
        li.join(
            o.select("o_orderkey", "o_orderdate").hint("shuffle_hash"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", F.when(late, 1).otherwise(0).alias("late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
    )
    # per-order totals as a window over the (order, supplier) aggregate:
    # the upstream join/agg already hash-partitioned on l_orderkey, which
    # satisfies the window's clustering too — so the EXISTS/NOT-EXISTS
    # pair costs no shuffle and no self-join at all (vs the former
    # agg⟕per_order join: one extra aggregate + one extra exchange)
    w = Window.partitionBy("l_orderkey")
    return (
        agg.withColumn("n_supp", F.count("*").over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter((F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "suppkey")
        .limit(20)
    )


@register(
    "pricing_rollup_subtotals",
    """
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
    doc="ROLLUP subtotals — grouping sets are Catalyst built-ins "
    "(absent in the reference, native in Spark).",
)
def pricing_rollup_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_d("l_quantity")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "events_hourly_rollup",
    f"""
    SELECT {_HOUR_EPOCH_SQL} AS hour_epoch,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({_cents_sql('value')}) AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Tumbling-window rollup over the events table (the batch view "
    "of the Structured Streaming window aggregate). Value is summed in "
    "exact cents as primitive longs: a DECIMAL(18,2) sum buffer is past "
    "compact precision and pays BigDecimal per row, while cents ≤ "
    "56,021 keep a plain long sum safe past 10¹⁴ rows per group. One "
    "final /100 double matches the oracle bit-exact.",
    bench=True,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(_hour_epoch().alias("hour_epoch"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(_cents("value")).cast("double") / F.lit(100.0)).alias("total_value"),
        )
        .orderBy("hour_epoch", "event_type")
    )


def _ensure_symlink(target: str, link: str) -> None:
    """Make ``link`` a symlink to ``target``, whatever is there now.

    The staging dirs live in tempdir across runs; anything at ``link``
    that is not a symlink to ``target`` — a stale link, or a regular
    file/dir left by an interrupted run — would silently feed a parity
    query wrong input, so it is removed unconditionally and re-linked.
    """
    import shutil

    if os.path.lexists(link) and not (
        os.path.islink(link) and os.readlink(link) == target
    ):
        if os.path.isdir(link) and not os.path.islink(link):
            shutil.rmtree(link)
        else:
            os.unlink(link)
    if not os.path.lexists(link):
        os.symlink(target, link)


def _events_file(sf_dir: str) -> str:
    return os.path.join(sf_dir, "events.parquet")


def _stage_events(
    spark: SparkSession, *files: str, max_files: int | None = None
) -> tuple[DataFrame, str]:
    """Open the events-schema parquet ``files`` as one file-stream source
    with a µs TIMESTAMP ``ts``; returns the stream and its stage dir.

    The file-stream source only reads directories, so each file is
    linked into a stage dir (a real ingest would watch a landing dir);
    a file listed twice is delivered twice. ``max_files`` sets
    ``maxFilesPerTrigger``: 1 makes each file its own micro-batch, in
    mtime order. Self-contained: pins ``session.timeZone=UTC`` and the
    legacy nanos-as-long parquet conf itself rather than relying on an
    earlier ``load_table('events')`` call having set them.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stage = _temp("stream", *files)
    os.makedirs(stage, exist_ok=True)
    for i, f in enumerate(files):
        _ensure_symlink(os.path.realpath(f), os.path.join(stage, f"part{i}.parquet"))
    reader = spark.readStream.schema(spark.read.parquet(files[0]).schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return _normalize_ts(reader.parquet(stage)), stage


def _sentinel(src: str) -> str:
    """A one-row events file whose ``ts`` is 10 hours past ``src``'s
    maximum (other columns NULL), dated an hour after ``src``. Staged
    after ``src`` with one file per trigger, it advances the watermark
    past every real window, so append mode emits ALL of them and evicts
    their state; its own window never closes and is never emitted. This
    is how a production ingest drains: the watermark, not the query
    shutdown, decides when a window is final."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = _temp("sentinel", src) + ".parquet"
    if not os.path.exists(path):
        sch = pq.read_schema(src)
        max_ts = pc.max(pq.read_table(src, columns=["ts"])["ts"]).as_py()
        arrays = []
        for f in sch:
            if f.name == "ts":
                if isinstance(max_ts, datetime.datetime):
                    val = max_ts + datetime.timedelta(hours=10)
                else:  # int64 nanos vintage
                    val = max_ts + 10 * 3600 * 1_000_000_000
                arrays.append(pa.array([val], type=f.type))
            else:
                arrays.append(pa.array([None], type=f.type))
        pq.write_table(pa.Table.from_arrays(arrays, schema=sch), path)
        main_mtime = os.stat(src).st_mtime
        os.utime(path, (main_mtime + 3600, main_mtime + 3600))
    return path


def _run_append(
    spark: SparkSession,
    sf_dir: str,
    fresh: bool,
    key: str,
    build: Callable[[DataFrame], DataFrame],
    *order: str,
):
    """Run ``build(events stream)`` to completion in append mode into a
    parquet sink, the events file followed by its ``_sentinel``. Returns
    ``(result_df, progress_dict)``: the sink's rows with ``key`` set (the
    sentinel's are not), ordered by ``order``, and the last micro-batch
    progress carrying state-store metrics (None on a fully-caught-up
    rerun, where the checkpoint makes the whole run a no-op and the
    previous output is simply re-read — the idempotent re-invocation path
    the bench/driver exercise). ``fresh=True`` wipes the checkpoint +
    output first, forcing a real processing run."""
    import shutil

    src = _events_file(sf_dir)
    stream, stage = _stage_events(spark, src, _sentinel(src), max_files=1)
    out_dir, ck_dir = f"{stage}_{key}_out", f"{stage}_{key}_ck"
    if fresh:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ck_dir, ignore_errors=True)
    q = feeds._drain(build(stream), "append", path=out_dir, checkpointLocation=ck_dir)
    progress = next(
        (p for p in reversed(q.recentProgress) if p.get("stateOperators")),
        None,
    )
    result = spark.read.parquet(out_dir).filter(F.col(key).isNotNull())
    return result.orderBy(*order), progress


def _hourly(events: DataFrame) -> DataFrame:
    return feeds.windowed_counts(events).select(
        F.unix_timestamp("window_start").alias("hour_epoch"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "events_stream_hourly_rollup",
    _STREAM_HOURLY_SQL,
    doc="R2/R4 as a DRIVEN streaming query: the same hourly rollup run "
    "through Structured Streaming end-to-end — file-stream source → "
    "watermarked window aggregate → memory sink, Trigger.AvailableNow "
    "micro-batches to completion — then hash-compared against the BATCH "
    "oracle. Proves stream/batch parity of the windowed aggregation "
    "path (`UpdatePuller.java:57-96` pull-apply shape). PARITY HARNESS "
    "ONLY: complete-mode + memory sink retains all aggregate state — the "
    "production path is `events_stream_hourly_append` (watermark-evicted "
    "append mode to a file sink).",
    bench=True,  # streaming micro-batch throughput in the headline set
)
def events_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, _ = _stage_events(spark, _events_file(sf_dir))
    q = feeds._drain(_hourly(stream), "complete")
    return spark.table(q.name).orderBy("hour_epoch", "event_type")


def run_events_append_rollup(spark: SparkSession, sf_dir: str, fresh: bool = False):
    """The append-mode hourly rollup to completion against a file sink
    (``_run_append``'s result and progress contract)."""
    return _run_append(
        spark, sf_dir, fresh, "event_type", _hourly, "hour_epoch", "event_type"
    )


@register(
    "events_stream_hourly_append",
    _STREAM_HOURLY_SQL,
    doc="PRODUCTION twin of `events_stream_hourly_rollup`: outputMode("
    "append) + watermark EVICTION to a parquet file sink — state is "
    "dropped as windows close instead of held forever (complete mode is "
    "kept only as the parity harness). A sentinel micro-batch advances "
    "the watermark past the last real window so every closed window is "
    "emitted exactly once; output hash-matches the batch oracle. "
    "`tests/test_streaming_append.py` asserts the state store holds only "
    "open windows at termination.",
)
def events_stream_hourly_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    result, _ = run_events_append_rollup(spark, sf_dir)
    return result


@register(
    "events_stream_sessions_append",
    _SESSION_WINDOWS_SQL,
    doc="DRIVEN STREAMING session windows: file-stream source → "
    "session_window(ts, 30 min) groupBy user_id → append mode + "
    "watermark eviction to a file sink, sentinel micro-batch closing "
    "every real session — hash-matched against the BATCH gap-session "
    "oracle (`events_session_windows`' lag/sum-over SQL). "
    "Proves the streaming session-MERGE state machine agrees with the "
    "batch definition, exactly-once, with state dropped at the "
    "watermark — the second driven streaming parity query beside the "
    "hourly rollup.",
)
def events_stream_sessions_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    result, _ = run_events_sessions_append(spark, sf_dir)
    return result


def run_events_sessions_append(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """Append-mode streaming session windows to completion against a file
    sink (``_run_append``'s result and progress contract)."""

    def sessions(events: DataFrame) -> DataFrame:
        # the batch twin's NULL-ts contract (``_timed_events``)
        return feeds.session_windows(events.filter(F.col("ts").isNotNull())).select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )

    return _run_append(
        spark, sf_dir, fresh, "user_id", sessions, "user_id", "session_start_us"
    )


@register(
    "events_session_windows",
    _SESSION_WINDOWS_SQL,
    doc="session_window() gap sessions (batch twin of the streaming "
    "feed `streaming.feeds.session_windows`).",
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _timed_events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )  # order-insensitive compare; no global sort


@register(
    "events_asof_attribution",
    """
    SELECT c.event_id AS click_id, c.user_id,
           epoch_us(c.ts) AS click_ts_us,
           v.event_id AS view_id,
           v.value AS view_value,
           epoch_us(v.ts) AS view_ts_us
    FROM (SELECT * FROM events
          WHERE event_type = 'click' AND ts IS NOT NULL) c
    ASOF LEFT JOIN (SELECT * FROM events
                    WHERE event_type = 'view' AND ts IS NOT NULL) v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    ORDER BY click_id
    """,
    doc="As-of join (attribution: each click matched to the user's most "
    "recent prior view). Spark lacks ASOF JOIN; `operators/asof.py` "
    "renders it as union + sort + forward-fill — one shuffle on the "
    "key, linear per partition, vs the O(|L|x|R|)-per-key range join. "
    "Oracle: DuckDB's native ASOF LEFT JOIN.",
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _timed_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id", "value")
    return asof_join(
        clicks, views, on="user_id", right_cols=["event_id", "value"], suffix="_view"
    ).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_micros("ts").alias("click_ts_us"),
        F.col("event_id_view").alias("view_id"),
        F.col("value_view").alias("view_value"),
        F.unix_micros("matched_ts_view").alias("view_ts_us"),
    ).orderBy("click_id")


@register(
    "events_errors_per_session",
    f"""
    WITH {_sessions_sql()},
    sessions AS (
      SELECT user_id, sid,
             epoch_us(MIN(ts)) AS session_start_us, epoch_us(MAX(ts)) AS session_end_us
      FROM g GROUP BY user_id, sid
    )
    SELECT s.user_id, s.session_start_us, s.session_end_us,
           COUNT(*) AS n_errors
    FROM sessions s
    JOIN events e ON e.user_id = s.user_id AND e.event_type = 'error'
                  AND epoch_us(e.ts) BETWEEN s.session_start_us AND s.session_end_us
    GROUP BY s.user_id, s.session_start_us, s.session_end_us
    ORDER BY s.user_id, s.session_start_us
    """,
    doc="Range (interval) join: error events matched into the containing "
    "per-user session interval. `operators/ranges.py` bucketizes "
    "intervals (explode to covering hour buckets → equi-join → exact "
    "BETWEEN re-filter) instead of the quadratic nested-loop plan Spark "
    "gives a raw BETWEEN join. All-µs integer math for oracle exactness.",
)
def events_errors_per_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranges import range_join

    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev).groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("session_start_us"), F.max("ts_us").alias("session_end_us")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    return (
        range_join(
            errors,
            sessions,
            on="user_id",
            point_ts="ts_us",
            start_col="session_start_us",
            end_col="session_end_us",
            bucket_width=3_600_000_000.0,
        )
        .groupBy("user_id", "session_start_us", "session_end_us")
        .agg(F.count("*").alias("n_errors"))
        .orderBy("user_id", "session_start_us")
    )


@register(
    "events_approx_stats",
    None,  # HLL++/GK sketches are engine-specific → rows-only (error bounds in tests)
    doc="Sketch aggregations: HyperLogLog++ distinct users and "
    "Greenwald-Khanna value percentiles per event_type — single-pass, "
    "mergeable, bounded-memory (the 100 TB replacements for exact "
    "COUNT(DISTINCT) and global-sort percentiles). Error bounds vs the "
    "exact twin asserted in tests/test_sketches.py.",
)
def events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import approx_event_stats

    ev = load_table(spark, sf_dir, "events")
    return approx_event_stats(ev).orderBy("event_type")


@register(
    "events_user_sessions",
    f"""
    WITH {_sessions_sql("ts IS NOT NULL")}
    SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions
    FROM g
    GROUP BY user_id
    HAVING SUM(new_s) > 0
    ORDER BY user_id
    """,
    doc="Sessionization (30-min gap) via lag window — batch twin of "
    "session_window() in streaming. The gap is compared in exact µs: "
    "whole seconds would merge a 1800.4 s gap into one session.",
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _sessions(_timed_events(spark, sf_dir))
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
        .filter(F.col("n_sessions") > 0)
        .select("user_id", F.col("n_sessions").cast("long").alias("n_sessions"))
        .orderBy("user_id")
    )


@register(
    "orders_price_quartiles",
    """
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER w AS price_quartile,
           CAST(PERCENT_RANK() OVER w AS DOUBLE) AS price_pct_rank
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01'
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
    doc="Distribution analytics: NTILE quartile + PERCENT_RANK of order "
    "value within each priority class. The (o_totalprice, o_orderkey) "
    "order is a total order, so both window functions are deterministic; "
    "percent_rank divides exact integer ranks (IEEE-stable). One shuffle "
    "on the partition key; the year filter pushes to the scan.",
)
def orders_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("price_quartile"),
            F.percent_rank().over(w).cast("double").alias("price_pct_rank"),
        )
        # no global ORDER BY: driver compare is order-insensitive and a
        # full sort of the output would be a wasted exchange at scale
    )


@register(
    "events_props_json_rollup",
    """
    SELECT event_type,
           COUNT(CAST(props->>'$.k' AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Semi-structured property extraction: events.props is a JSON "
    "string column (the reference's dynamic property store analog — "
    "string/array dynamic records, PropertyStore.java); get_json_object "
    "pulls typed values in the scan stage, then a plain integer rollup. "
    "At scale the same shape applies from_json once in a projected "
    "column rather than re-parsing per expression.",
)
def events_props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "orders_cube_pricing",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus, o_orderpriority
    """,
    doc="CUBE subtotals over status × priority (all four grouping sets "
    "in ONE pass — partial aggregation expands grouping ids map-side; "
    "complements the ROLLUP query). Money summed in DECIMAL, cast once.",
)
def orders_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_d("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@register(
    "events_incremental_rollup",
    f"""
    SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM({_cents_sql('value', 1000)}) AS BIGINT)
             AS sum_value_milli
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Incremental aggregate maintenance (operators/incremental.py): "
    "the per-type rollup is built as BASE state (event_id % 7 != 0) "
    "merged with a DELTA state (the rest) — union + re-sum over state "
    "rows only, never a rescan of the base. The oracle recomputes from "
    "scratch, proving merge == full recompute. Values are quantized to "
    "milli-units so sums are exact integers (merge-order independent).",
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import incremental

    ev = load_table(spark, sf_dir, "events")
    milli = _cents("value", 1000)
    base = incremental.sum_state(
        ev.filter(F.col("event_id") % 7 != 0), ["event_type"], {"sum_value_milli": milli}
    )
    delta = incremental.sum_state(
        ev.filter(F.col("event_id") % 7 == 0), ["event_type"], {"sum_value_milli": milli}
    )
    return incremental.merge_states([base, delta], ["event_type"]).orderBy("event_type")


@register(
    "events_distinct_sketch_merge",
    None,  # Datasketches HLL binaries are engine-specific → rows-only
    doc="Re-aggregatable distinct-count state: one HLL sketch per "
    "(event_type, day) — the materialized form a 100 TB pipeline keeps — "
    "merged per type via hll_union_agg (the exchange carries fixed-size "
    "binaries, never distinct values). 5% error bound vs the exact "
    "distinct asserted in tests/test_sketches.py.",
)
def events_distinct_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import distinct_sketch_state, merge_distinct_sketches

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = distinct_sketch_state(ev, ["event_type", "day"], "user_id")
    return merge_distinct_sketches(daily, ["event_type"]).orderBy("event_type")


@register(
    "events_value_outliers",
    f"""
    WITH q AS (
      SELECT event_type,
             quantile_cont({_cents_sql('value', 1000)}, 0.25) AS q1,
             quantile_cont({_cents_sql('value', 1000)}, 0.75) AS q3
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN {_cents_sql('e.value', 1000)}
                              < q.q1 - 1.5 * (q.q3 - q.q1)
                          OR {_cents_sql('e.value', 1000)}
                              > q.q3 + 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    doc="IQR-fence outlier detection per event_type. Values quantize to "
    "milli-units so quartiles interpolate between integers — exact "
    "binary fractions, identical in Spark percentile() and DuckDB "
    "quantile_cont (both use the (n-1)*p linear-interpolation rank). "
    "Two passes: tiny per-type quartile table broadcasts back onto the "
    "scan; the sketch twin (events_approx_stats) replaces pass one at "
    "extreme cardinality.",
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "mv", _cents("value", 1000)
    )
    q = ev.groupBy("event_type").agg(
        F.percentile("mv", F.lit(0.25)).alias("q1"),
        F.percentile("mv", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("mv") < F.col("q1") - 1.5 * iqr) | (
        F.col("mv") > F.col("q3") + 1.5 * iqr
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(out.cast("int")).cast("long").alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "events_column_profile",
    """
    WITH s AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(user_id) AS nn1, COUNT(DISTINCT user_id) AS nd1,
             COUNT(event_type) AS nn2, COUNT(DISTINCT event_type) AS nd2,
             COUNT(value) AS nn3, COUNT(DISTINCT value) AS nd3,
             COUNT(props) AS nn4, COUNT(DISTINCT props) AS nd4
      FROM events)
    SELECT 'user_id' AS "column", CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_rows - nn1 AS BIGINT) AS n_nulls, CAST(nd1 AS BIGINT) AS n_distinct FROM s
    UNION ALL
    SELECT 'event_type', CAST(n_rows AS BIGINT), CAST(n_rows - nn2 AS BIGINT), CAST(nd2 AS BIGINT) FROM s
    UNION ALL
    SELECT 'value', CAST(n_rows AS BIGINT), CAST(n_rows - nn3 AS BIGINT), CAST(nd3 AS BIGINT) FROM s
    UNION ALL
    SELECT 'props', CAST(n_rows AS BIGINT), CAST(n_rows - nn4 AS BIGINT), CAST(nd4 AS BIGINT) FROM s
    ORDER BY "column"
    """,
    doc="ANALYZE-style column statistics (`profile.profile`): n_rows / "
    "nulls / exact NDV for four events columns in ONE aggregate pass "
    "(stacked to long format with no driver round-trip). The oracle "
    "recomputes each stat relationally. 100 TB path swaps exact NDV for "
    "HLL++ (`operators/sketches.py`).",
)
def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import profile

    ev = load_table(spark, sf_dir, "events")
    return profile.profile(ev, ["user_id", "event_type", "value", "props"]).orderBy(
        "column"
    )


@register(
    "events_value_histogram",
    """
    WITH r AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
    b AS (SELECT LEAST(CAST(FLOOR(((value - mn) * 10) / (mx - mn)) AS BIGINT),
                       9) AS bucket, mn, mx
          FROM events CROSS JOIN r)
    SELECT bucket,
           mn + (bucket * (mx - mn)) / 10 AS lo,
           mn + ((bucket + 1) * (mx - mn)) / 10 AS hi,
           COUNT(*) AS n
    FROM b GROUP BY bucket, mn, mx ORDER BY bucket
    """,
    doc="Equi-width ANALYZE histogram over events.value "
    "(`profile.numeric_histogram`, 10 buckets): exact min/max range "
    "pass, then one bucket-count aggregation. Bucket assignment and "
    "edges use a single fixed IEEE expression order — "
    "floor(((v-mn)*10)/(mx-mn)) — identical doubles on both engines.",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import profile

    ev = load_table(spark, sf_dir, "events")
    return profile.numeric_histogram(ev, "value", 10).orderBy("bucket")


@register(
    "events_gap_distribution",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT event_type,
           COUNT(gap_us) AS n_gaps,
           CAST(quantile_cont(gap_us, 0.25) AS DOUBLE) AS p25_us,
           CAST(quantile_cont(gap_us, 0.5) AS DOUBLE) AS p50_us,
           CAST(quantile_cont(gap_us, 0.75) AS DOUBLE) AS p75_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Inter-event gap distribution: per-user LAG over the event "
    "stream (window on user_id — the natural partitioning; no global "
    "sort), then exact quartiles of the integer-µs gaps per event_type. "
    "Quartile interpolation on BIGINT µs is exact-portable (binary "
    "fractions). The user-behavior cadence profile of a 100 TB event "
    "log in two shuffles.",
)
def events_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w)).filter(
        F.col("gap_us").isNotNull()
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.percentile("gap_us", F.lit(0.25)).alias("p25_us"),
            F.percentile("gap_us", F.lit(0.5)).alias("p50_us"),
            F.percentile("gap_us", F.lit(0.75)).alias("p75_us"),
        )
        .orderBy("event_type")
    )


@register(
    "events_funnel_signup_purchase",
    """
    WITH s1 AS (SELECT user_id, MIN(ts) AS ts1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS ts2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'view' AND e.ts > s1.ts1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS ts3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.ts2 GROUP BY e.user_id)
    SELECT 1 AS step, 'signup' AS event_type,
           (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
    UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
    ORDER BY step
    """,
    doc="Ordered funnel conversion (`funnel.funnel_counts`): users who "
    "signed up, then viewed after signup, then purchased after that "
    "view — first-reach times via N-1 user-keyed joins (no full-stream "
    "window/sort), counts stacked to one row per step. The time-ordered "
    "path-query twin of the graph traversals.",
)
def events_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_counts

    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(ev, ["signup", "view", "purchase"]).orderBy("step")


@register(
    "q9_profit_by_nation_year",
    f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS o_year,
           CAST(SUM({_REV_DEC_SQL}) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, EXTRACT(year FROM l.l_shipdate)
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (product-profit by nation and year; the schema "
    "has no partsupp/ps_supplycost, so profit = discounted revenue): "
    "fact scan joined to two broadcast dims + a LIKE-filtered part dim, "
    "grouped on (nation, year). Exercises broadcast-star planning and "
    "partial aggregation under a derived group key.",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    return (
        li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        .join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(_rev_dec()).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(SUM({_REV_DEC_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (disjunctive brand/size/quantity predicate "
    "revenue; the schema has no l_shipmode/p_container, so the three OR "
    "arms use brand+size+quantity). The part side of each arm is "
    "broadcastable; the OR predicate sits on the joined row — Catalyst "
    "pushes the common `p_brand IN (...)` prefilter into the part scan.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    q = F.col("l_quantity")
    sz = F.col("p_size")
    arm1 = (F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 11)
    arm2 = (F.col("p_brand") == "Brand#23") & sz.between(1, 25) & q.between(10, 20)
    arm3 = (F.col("p_brand") == "Brand#34") & sz.between(1, 50) & q.between(20, 30)
    return (
        li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        .filter(arm1 | arm2 | arm3)
        .agg(
            F.sum(_rev_dec()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q2_best_supplier_per_part",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
             n.n_name AS nation
      FROM ps
      JOIN part p     ON p.p_partkey = ps.l_partkey
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_size = 15
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, nation
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey
                 ORDER BY s_acctbal DESC, s_suppkey) AS rn
      FROM cand
    ) WHERE rn = 1
    ORDER BY s_acctbal DESC, p_partkey
    """,
    doc="TPC-H Q2 shape (best supplier per part within a region; the "
    "schema has no partsupp/ps_supplycost, so supply candidates are "
    "derived as DISTINCT (l_partkey, l_suppkey) from lineitem and "
    "'best' = highest s_acctbal, ties to the lowest s_suppkey). "
    "Exercises a map-side-combinable DISTINCT on the fact, a broadcast "
    "snowflake (supplier→nation→region), and per-group argmax without "
    "a global sort.",
)
def q2_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cand = (
        ps.join(F.broadcast(pa), ps["l_partkey"] == pa["p_partkey"])
        .join(F.broadcast(su), ps["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal",
            F.col("n_name").alias("nation"),
        )
    )
    best = argmax(
        cand,
        group_cols=["p_partkey"],
        order=[F.desc("s_acctbal"), F.asc("s_suppkey")],
    )
    return best.select(
        "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "nation"
    ).orderBy(F.desc("s_acctbal"), "p_partkey")


@register(
    "events_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    )
    SELECT CAST(epoch(CAST(date_trunc('week', f.first_day) AS TIMESTAMP)) / 86400
                AS BIGINT) AS cohort_week_day,
           CAST((epoch(CAST(date_trunc('week', CAST(e.ts AS DATE)) AS TIMESTAMP))
                 - epoch(CAST(date_trunc('week', f.first_day) AS TIMESTAMP)))
                / 604800 AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Cohort retention: users bucketed by first-seen ISO week, "
    "activity counted per (cohort, weeks-since) cell — the standard "
    "engagement triangle. Two aggregations over the same user-keyed "
    "shuffle; the first-seen dim rejoins broadcast. Weeks reduced to "
    "epoch-day ints at the boundary for engine-portable comparison.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    cohort_day = F.unix_timestamp(
        F.date_trunc("week", F.col("first_day")).cast("timestamp")
    )
    event_week = F.unix_timestamp(
        F.date_trunc("week", F.col("ts").cast("date").cast("timestamp"))
    )
    return (
        ev.join(F.broadcast(first_seen), "user_id")
        .groupBy(
            (cohort_day / 86400).cast("bigint").alias("cohort_week_day"),
            ((event_week - cohort_day) / 604800).cast("bigint").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
        .orderBy("cohort_week_day", "week_offset")
    )


@register(
    "events_sliding_rollup",
    f"""
    WITH slides AS (
      SELECT e.event_type, e.value,
             CAST(epoch_us(date_trunc('minute', e.ts))
                  - (CAST(EXTRACT(minute FROM e.ts) AS BIGINT) % 15) * 60000000
                  - CAST(k.k AS BIGINT) * 900000000 AS BIGINT) AS window_start_us
      FROM events e CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k
      WHERE e.ts IS NOT NULL
    )
    SELECT window_start_us,
           CAST(window_start_us + 3600000000 AS BIGINT) AS window_end_us,
           event_type, COUNT(*) AS n_events,
           CAST(SUM({_cents_sql('value')}) AS DOUBLE) / 100.0
             AS total_value
    FROM slides
    GROUP BY window_start_us, event_type
    ORDER BY window_start_us, event_type
    """,
    doc="Sliding-window rollup (1 h window, 15 min slide), TWO-LEVEL: "
    "aggregate the corpus ONCE into tumbling 15-min slot partials "
    "(map-side combinable — the raw rows are touched exactly once), "
    "then expand the AGGREGATED frame ×4 (each slot feeds the 4 "
    "overlapping hour windows: start = slot − k·15 min, k ∈ 0..3) and "
    "merge. Identical result to Spark's native window(1h, 15m) — a "
    "row at t belongs to the windows starting at its slot minus 0-3 "
    "slides, and counts/cent-sums merge associatively — but the ×4 "
    "row expansion happens on thousands of slot rows instead of every "
    "raw event (at 100 TB the native form quadruples the pre-shuffle "
    "volume). Oracle "
    "derives the same starts arithmetically (floor-to-slide minus k "
    "slides). The STREAMING path keeps native window() — watermark "
    "eviction needs the built-in window column.",
    bench=True,  # the streaming-window scale path in the headline set
)
def events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _timed_events(spark, sf_dir)  # window() would drop NULL ts silently
    slots = ev.groupBy(
        F.window("ts", "15 minutes").alias("s"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        # exact-cent long sum, as in events_hourly_rollup
        F.sum(_cents("value")).alias("vc"),
    )
    return (
        slots.select(
            F.unix_micros("s.start").alias("slot_us"),
            "event_type",
            "n",
            "vc",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("k"),
        )
        .groupBy(
            (
                F.col("slot_us")
                - F.col("k").cast("long") * F.lit(900_000_000).cast("long")
            ).alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            (F.sum("vc").cast("double") / F.lit(100.0)).alias("total_value"),
        )
        .select(
            "window_start_us",
            (F.col("window_start_us") + F.lit(3_600_000_000)).alias(
                "window_end_us"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start_us", "event_type")
    )


@register(
    "orders_incremental_join_view",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT)
             AS sum_price_cents
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Incremental JOIN-view maintenance (delta rule ΔL⋈R ∪ L⋈ΔR ∪ "
    "ΔL⋈ΔR): the orders⋈lineitem revenue view absorbs a batch of new "
    "orders (o_orderdate >= 1997-07-01) AND new lineitems (l_shipdate >= "
    "1997-07-01) by joining only the deltas against the bases — the "
    "bases never re-join — then merging the delta's aggregate state "
    "into the old view's state (operators/incremental.py). The oracle "
    "recomputes the view from scratch, proving old ∪ delta == full. "
    "Prices quantized to cents so state sums are exact integers.",
)
def orders_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import incremental

    cut = "1997-07-01"
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        _cents("l_extendedprice").alias("price_cents"),
        "l_shipdate",
    )
    bo, do_ = o.filter(F.col("o_orderdate") < cut), o.filter(F.col("o_orderdate") >= cut)
    bl, dl = (
        li.filter(F.col("l_shipdate") < cut),
        li.filter(F.col("l_shipdate") >= cut),
    )
    keep = ["k", "o_orderpriority", "price_cents"]
    old_view = bo.join(bl, "k").select(*keep)
    delta_view = incremental.join_delta(bo, bl, do_, dl, ["k"]).select(*keep)
    old_state = incremental.sum_state(
        old_view, ["o_orderpriority"], {"sum_price_cents": F.col("price_cents")}
    )
    delta_state = incremental.sum_state(
        delta_view, ["o_orderpriority"], {"sum_price_cents": F.col("price_cents")}
    )
    return incremental.merge_states(
        [old_state, delta_state], ["o_orderpriority"]
    ).orderBy("o_orderpriority")


@register(
    "events_cumulative_users",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id),
    daily AS (
      SELECT first_day AS day, COUNT(*) AS new_users
      FROM firsts GROUP BY first_day)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM daily ORDER BY day
    """,
    doc="Cumulative distinct users per day WITHOUT a cumulative "
    "COUNT(DISTINCT): a user's first-appearance day is computed once "
    "(one groupBy), then cumulative distinct = running sum of new-user "
    "counts — O(users) state instead of re-scanning every prefix. The "
    "canonical scale rewrite of rolling-distinct analytics.",
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("long")
        )
        .orderBy("day")
    )


@register(
    "events_hourly_gapfill",
    f"""
    WITH b AS (
      SELECT {_HOUR_EPOCH_SQL} AS hour_epoch, COUNT(*) AS n_events
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    {_dense_sql("hour_epoch", "n_events", 3600)}
    SELECT hour_epoch, n_events FROM dense ORDER BY hour_epoch
    """,
    doc="Time-series gap fill: a dense hourly grid (sequence/explode "
    "from the observed bounds — generated distributed, no driver loop) "
    "left-joined with the sparse rollup, missing buckets as 0. The "
    "grid generator is O(hours), never O(events).",
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    b = ev.groupBy(_hour_epoch().alias("hour_epoch")).agg(F.count("*").alias("n_events"))
    return _dense(b, "hour_epoch", "n_events", 3600).orderBy("hour_epoch")


@register(
    "customer_scd2_batch",
    """
    WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
    upd AS (SELECT c_custkey AS k,
                   CASE WHEN c_custkey % 4 = 0 THEN 'PROMO'
                        ELSE c_mktsegment END AS seg
            FROM customer)
    SELECT k, seg, valid_from, valid_to FROM (
      SELECT c.k, c.seg, CAST(0 AS BIGINT) AS valid_from,
             CASE WHEN u.seg <> c.seg THEN CAST(100 AS BIGINT) END AS valid_to
      FROM cur c JOIN upd u USING (k)
      UNION ALL
      SELECT u.k, u.seg, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
      FROM cur c JOIN upd u USING (k) WHERE u.seg <> c.seg
    ) ORDER BY k, valid_from
    """,
    doc="SCD Type-2 dimension maintenance (operators/scd.py): the "
    "customer-segment dimension absorbs a CDC batch (every 4th customer "
    "re-segmented to PROMO) — changed keys close their current row at "
    "the batch timestamp and append a new open row, unchanged keys "
    "stream through untouched. One full-outer equi-join per batch; the "
    "oracle replays the versioning in SQL.",
)
def customer_scd2_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_apply

    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    updates = c.select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 4 == 0, "PROMO")
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    return scd2_apply(dim, updates, "k", ["seg"], batch_ts=100).orderBy(
        "k", "valid_from"
    )


@register(
    "customer_fuzzy_match",
    """
    WITH l AS (SELECT c_custkey AS lid, c_name AS nm FROM customer),
    r AS (SELECT c_custkey + 1000000 AS rid,
                 substr(c_name, 1, length(c_name) - 1) || 'X' AS nm
          FROM customer WHERE c_custkey % 10 = 0)
    SELECT lid, rid, CAST(levenshtein(l.nm, r.nm) AS BIGINT) AS dist
    FROM l JOIN r ON substr(l.nm, 10, 6) = substr(r.nm, 10, 6)
    WHERE levenshtein(l.nm, r.nm) <= 2
    ORDER BY lid, rid
    """,
    doc="Entity resolution (operators/fuzzy.py): match customers "
    "against a corrupted twin (last name char replaced) via block → "
    "verify — blocking on a corruption-stable substring turns the "
    "all-pairs edit-distance join into an equi-join; exact levenshtein "
    "runs on in-block candidates only. Oracle replays blocking and "
    "distance in SQL (both engines implement the same edit distance).",
)
def customer_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_join

    c = load_table(spark, sf_dir, "customer")
    left = c.select(F.col("c_custkey").alias("lid"), F.col("c_name").alias("name"))
    right = c.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("rid"),
        F.concat(
            F.expr("substr(c_name, 1, length(c_name) - 1)"), F.lit("X")
        ).alias("name"),
    )
    out = fuzzy_join(
        left, right, "name", block=lambda s: F.substring(s, 10, 6), max_dist=2
    )
    return out.orderBy("lid", "rid")


@register(
    "events_equidepth_histogram",
    f"""
    WITH t AS (
      -- NULL-value contract: histograms describe values;
      -- NULLs are null_frac, not a bucket member (and NTILE NULL
      -- ordering differs across engines anyway)
      SELECT {_cents_sql('value', 1000)} AS v, event_id,
             NTILE(8) OVER (ORDER BY {_cents_sql('value', 1000)},
                            event_id) AS bucket
      FROM events WHERE value IS NOT NULL)
    SELECT bucket, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n_rows
    FROM t GROUP BY bucket ORDER BY bucket
    """,
    doc="Equi-depth histogram (profile.equidepth_histogram): NTILE "
    "buckets over a deterministic (value, id) order, exact bounds and "
    "counts per bucket — the planner histogram that survives skew. "
    "Values quantized to milli-units for cross-engine exactness.",
)
def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import equidepth_histogram

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", _cents("value", 1000).alias("v")
    )
    return equidepth_histogram(ev, "v", buckets=8, id_col="event_id")


@register(
    "lineitem_skew_report",
    """
    WITH c AS (SELECT l_partkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1),
    t AS (SELECT SUM(n) AS n_total, COUNT(*) AS n_keys FROM c)
    SELECT key, n, CAST((n * 1000) // n_total AS BIGINT) AS share_x1000, n_keys
    FROM c, t ORDER BY n DESC, key LIMIT 5
    """,
    doc="Join-key skew diagnosis (profile.skew_report): the heaviest "
    "l_partkey values with their share of the fact table — the "
    "pre-flight that picks plain shuffle vs AQE skew-split vs salting. "
    "One partial-agg pass + a broadcast 1-row total.",
)
def lineitem_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import skew_report

    li = load_table(spark, sf_dir, "lineitem")
    return skew_report(li, "l_partkey", top=5)


@register(
    "events_stream_interval_join",
    """
    SELECT a.user_id AS user_id,
           CAST(a.event_id AS BIGINT) AS signup_id,
           CAST(b.event_id AS BIGINT) AS purchase_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'signup' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ORDER BY a.user_id, signup_id, purchase_id
    """,
    doc="DRIVEN stream-stream interval join: signup and purchase "
    "streams (two file-stream sources over the same staged dir) joined "
    "on user within [signup_ts, signup_ts + 1h] — watermarks on both "
    "sides bound the join state to the interval width, matches emit "
    "eagerly (inner-join append semantics), AvailableNow runs to "
    "completion, and the emitted set hash-matches the batch self-join "
    "oracle. Extends stream/batch parity from aggregates "
    "(events_stream_hourly_rollup) to JOINS.",
)
def events_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def side(event_type: str) -> DataFrame:
        stream, _ = _stage_events(spark, _events_file(sf_dir))
        return stream.filter(F.col("event_type") == event_type).select(
            "user_id", "event_id", "ts"
        )

    # purchases within [signup_ts, signup_ts + 1h] of a signup
    joined = feeds.interval_join_streams(
        side("purchase"),
        side("signup"),
        "user_id",
        lower="0 seconds",
        upper="1 hour",
        watermark="2 hours",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("r.event_id").alias("signup_id"),
        F.col("l.event_id").alias("purchase_id"),
    )
    q = feeds._drain(joined, "append")
    return spark.table(q.name).orderBy("user_id", "signup_id", "purchase_id")


@register(
    "events_stream_stateful_totals",
    f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM({_cents_sql('value', 1000)}) AS BIGINT)
             AS total_milli
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    doc="DRIVEN custom stateful streaming (feeds.stateful_user_totals): "
    "per-user running totals carried in GroupState across micro-batches "
    "(values quantized to milli-ints so state merges are exact), run to "
    "completion with AvailableNow; the cumulative row with the highest "
    "event count per user IS that user's final total and hash-matches "
    "the batch oracle. Completes stream/batch parity across all three "
    "stateful families: windowed aggregates, joins, and custom state.",
)
def events_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream, _ = _stage_events(spark, _events_file(sf_dir))
    totals = feeds.stateful_user_totals(stream.filter(F.col("user_id").isNotNull()))
    q = feeds._drain(totals, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(q.name)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_events", "total_milli")
        .orderBy("user_id")
    )


@register(
    "events_rolling_hour_counts",
    """
    SELECT CAST(event_id AS BIGINT) AS event_id,
           user_id,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_last_hour
    FROM events
    ORDER BY event_id
    """,
    doc="Per-entity rolling time-range window: each event's count of "
    "same-user events in the trailing hour — a RANGE frame over epoch "
    "microseconds, partitioned by user (the per-key state never leaves "
    "its partition; the rate-limiter/abuse-detection primitive).",
)
def events_rolling_hour_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            F.col("event_id").cast("long").alias("event_id"),
            "user_id",
            F.count("*").over(w).cast("long").alias("n_last_hour"),
        )
        .orderBy("event_id")
    )


@register(
    "events_stream_dedup_rollup",
    """
    SELECT event_type, COUNT(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="DRIVEN streaming dedup: the events file staged TWICE (two "
    "links, maxFilesPerTrigger=1 — the duplicate copy arrives in a "
    "LATER micro-batch, so dedup must work through the state store, "
    "not within a batch), dropDuplicatesWithinWatermark(event_id) "
    "evicts dup state by watermark, and the per-type rollup of the "
    "surviving rows hash-matches the batch oracle over the SINGLE "
    "copy — exactly-once delivery semantics proven end-to-end. Fourth "
    "driven stream/batch-parity family (aggregate, join, custom state, "
    "dedup).",
)
def events_stream_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_file(sf_dir)
    stream, _ = _stage_events(spark, src, src, max_files=1)
    deduped = (
        feeds.dedup_stream(stream, ["event_id"], watermark="24 hours")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = feeds._drain(deduped, "complete")
    return spark.table(q.name).orderBy("event_type")


@register(
    "events_stream_pushk_parity",
    f"""
    SELECT s.sink_id,
           e.event_type,
           COUNT(*) * 2 AS n_events,
           CAST(SUM({_cents_sql('value', 1000)}) * 2 AS BIGINT)
             AS total_milli
    FROM events e
    CROSS JOIN (SELECT 0 AS sink_id UNION ALL SELECT 1
                UNION ALL SELECT 2) s
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="DRIVEN push fan-out (R3, feeds.push_fanout — the reference's "
    "master-push replication, `MasterTxIdGenerator.java:158-230`): the "
    "events file staged TWICE with maxFilesPerTrigger=1 so the fan-out "
    "runs across MULTIPLE committed micro-batches, each batch appended "
    "to k=3 parquet sinks via foreachBatch; every sink is then read "
    "back and rolled up per event_type. Parity contract: each sink "
    "holds exactly the 2 staged copies — counts and milli-exact value "
    "sums match the batch oracle x2 for ALL THREE sinks (no loss, no "
    "extra delivery on any fan-out leg). Sixth driven stream/batch-"
    "parity family (aggregate, join, custom state, dedup, fan-out).",
)
def events_stream_pushk_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    src = _events_file(sf_dir)
    stream, stage = _stage_events(spark, src, src, max_files=1)
    # sinks + checkpoint are rebuilt fresh each run: append-mode sinks
    # would otherwise accumulate copies across invocations
    base = f"{stage}_pushk"
    shutil.rmtree(base, ignore_errors=True)
    sinks = [os.path.join(base, f"sink_{i}") for i in range(3)]
    feeds.push_fanout(
        stream.select("event_id", "event_type", "value"),
        sinks,
        os.path.join(base, "ckpt"),
    )
    per_sink = [
        spark.read.parquet(d)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(_cents("value", 1000))
            .cast("long")
            .alias("total_milli"),
        )
        .select(F.lit(i).cast("int").alias("sink_id"), "*")
        for i, d in enumerate(sinks)
    ]
    out = per_sink[0]
    for p in per_sink[1:]:
        out = out.unionByName(p)
    return out.orderBy("sink_id", "event_type")


@register(
    "events_stream_catchup_tail",
    f"""
    SELECT {_HOUR_EPOCH_SQL} AS hour_epoch,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({_cents_sql('value', 1000)}) AS BIGINT) AS total_milli
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="DRIVEN late-joiner catch-up (R5 — the reference's backup-then-"
    "tail, `BackupService.java:383-420`): a joiner that missed the "
    "stream BACKFILLS everything before a cut point from the at-rest "
    "store (batch read, the snapshot leg) and TAILS the stream from "
    "the cut (file-stream source filtered ts >= cut, AvailableNow to a memory "
    "sink — the tx-pull leg). The union of backfill rows and tailed "
    "rows is aggregated once; hash-matching the whole-table batch "
    "oracle proves the cut loses nothing and duplicates nothing across "
    "the snapshot/stream seam. Cut = midpoint of the observed ts range "
    "(deterministic per dataset). Seventh driven parity family.",
)
def events_stream_catchup_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    cut = (lo + hi) // 2  # epoch µs midpoint — deterministic
    cols = ["event_id", "ts", "event_type", "value"]
    # NULL-ts rows belong to the backfill leg (a NULL fails BOTH range
    # predicates and would otherwise be dropped by the seam entirely,
    # while the batch oracle keeps them as a NULL hour group)
    backfill = ev.filter(
        (F.unix_micros("ts") < cut) | F.col("ts").isNull()
    ).select(*cols)
    stream, _ = _stage_events(spark, _events_file(sf_dir))
    tail = stream.filter(F.unix_micros("ts") >= cut).select(*cols)
    q = feeds._drain(tail, "append")
    return (
        backfill.unionByName(spark.table(q.name).select(*cols))
        .groupBy(
            _hour_epoch().alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(_cents("value", 1000))
            .cast("long")
            .alias("total_milli"),
        )
        .orderBy("hour_epoch", "event_type")
    )


@register(
    "events_hourly_leaderboard",
    _HOURLY_TOP3_SQL,
    doc="Windowed leaderboard: top-3 event types per hour (rollup + "
    "per-window rank, deterministic tie-break) — the dashboard query "
    "every event pipeline serves; rank window runs on the already-"
    "aggregated buckets, never the raw stream.",
)
def events_hourly_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _top3_per_hour(
        ev.groupBy(_hour_epoch().alias("hour_epoch"), "event_type").agg(
            F.count("*").alias("n_events")
        )
    )


@register(
    "events_conversion_latency",
    """
    WITH s AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT e.user_id,
                 MIN(epoch_us(e.ts) - epoch_us(s.signup_ts)) AS latency_us
          FROM events e JOIN s ON s.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
          GROUP BY e.user_id)
    SELECT COUNT(*) AS n_converted,
           CAST(FLOOR(quantile_cont(latency_us, 0.5)) AS BIGINT) AS p50_us,
           CAST(FLOOR(quantile_cont(latency_us, 0.9)) AS BIGINT) AS p90_us
    FROM p
    """,
    doc="Conversion latency: per user, first purchase at-or-after first "
    "signup; continuous p50/p90 of the time-to-convert in integer "
    "microseconds (both engines interpolate with pos = p*(n-1); the "
    "final FLOOR pins the one divergent rounding step). Two keyed aggregates + one equi-join "
    "— never a windowed scan of the raw stream.",
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_micros(F.col("ts")) - F.unix_micros(F.col("signup_ts"))
            ).alias("latency_us")
        )
    )
    return p.agg(
        F.count("*").alias("n_converted"),
        F.floor(F.expr("percentile(latency_us, 0.5)")).cast("long").alias("p50_us"),
        F.floor(F.expr("percentile(latency_us, 0.9)")).cast("long").alias("p90_us"),
    )


@register(
    "store_upgrade_read",
    """
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 2 = 0 THEN 0.0 ELSE c_acctbal END
             AS c_acctbal,
           CASE WHEN c_custkey % 2 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END
             AS c_mktsegment
    FROM customer ORDER BY c_custkey
    """,
    doc="Store-format upgrade read (sink.read_evolved): even-key "
    "customers staged as an old-vintage parquet dir (3 columns), "
    "odd-key as the current 5-column format; ONE mergeSchema read "
    "unions the vintages and fills declared defaults for the columns "
    "old files predate (acctbal 0.0, mktsegment 'UNKNOWN') — the "
    "reference's store migration (1.9 opening 1.8 stores) as a "
    "query-time contract: old files stay valid, no rewrite. Oracle "
    "replays the vintage split + defaults in SQL.",
)
def store_upgrade_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sink import read_evolved

    cust = load_table(spark, sf_dir, "customer")
    # keyed on the source's identity, so a regenerated fixture at the
    # same path invalidates the staged vintages
    base = _temp("store_vintages", os.path.join(sf_dir, "customer.parquet"))
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    if not (
        os.path.exists(os.path.join(v1, "_SUCCESS"))
        and os.path.exists(os.path.join(v2, "_SUCCESS"))
    ):
        cust.filter(F.col("c_custkey") % 2 == 0).select(
            "c_custkey", "c_name", "c_nationkey"
        ).write.mode("overwrite").parquet(v1)
        cust.filter(F.col("c_custkey") % 2 == 1).write.mode("overwrite").parquet(v2)
    out = read_evolved(
        spark, [v1, v2], {"c_acctbal": 0.0, "c_mktsegment": "UNKNOWN"}
    )
    return out.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    ).orderBy("c_custkey")


@register(
    "events_path_trigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1, e2, e3, COUNT(*) AS n_paths
    FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3 LIMIT 20
    """,
    doc="Behavioral path mining: top-20 event-type trigrams over each "
    "user's time-ordered stream (LEAD window ties broken by event_id — "
    "total order, engine-stable) — the product-analytics sequel to the "
    "funnel query: which 3-step paths actually happen. One window "
    "PARTITIONED by user (no global sort) + one counting shuffle.",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _timed_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(20)
    )


@register(
    "customer_rfm_segments",
    f"""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             {_cents_sql('o_totalprice')} AS cents
      FROM orders),
    ref AS (SELECT MAX(o_orderdate) AS ref_date FROM o),
    rfm AS (
      SELECT o_custkey AS c_custkey,
             CAST(date_diff('day', MAX(o_orderdate), ref.ref_date) AS BIGINT)
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(cents) AS BIGINT) AS monetary_cents
      FROM o, ref GROUP BY o_custkey, ref.ref_date),
    q AS (SELECT quantile_cont(recency_days, 0.25) AS r25,
                 quantile_cont(recency_days, 0.75) AS r75,
                 quantile_cont(frequency, 0.25) AS f25,
                 quantile_cont(frequency, 0.75) AS f75,
                 quantile_cont(monetary_cents, 0.25) AS m25,
                 quantile_cont(monetary_cents, 0.75) AS m75
          FROM rfm)
    SELECT c_custkey, recency_days, frequency, monetary_cents,
           CAST(CASE WHEN recency_days <= q.r25 THEN 3
                     WHEN recency_days <= q.r75 THEN 2 ELSE 1 END AS INT)
             AS r_score,
           CAST(CASE WHEN frequency >= q.f75 THEN 3
                     WHEN frequency >= q.f25 THEN 2 ELSE 1 END AS INT)
             AS f_score,
           CAST(CASE WHEN monetary_cents >= q.m75 THEN 3
                     WHEN monetary_cents >= q.m25 THEN 2 ELSE 1 END AS INT)
             AS m_score,
           CASE WHEN recency_days <= q.r25 AND frequency >= q.f75
                     AND monetary_cents >= q.m75 THEN 'champion'
                WHEN recency_days > q.r75 AND monetary_cents >= q.m75
                  THEN 'at_risk_big_spender'
                WHEN recency_days > q.r75 THEN 'lapsed'
                ELSE 'core' END AS segment
    FROM rfm, q ORDER BY c_custkey
    """,
    doc="RFM customer segmentation: per-customer recency (days to the "
    "corpus max order date), frequency, monetary (exact cents) scored "
    "1-3 by EXACT-binary quartiles (0.25/0.75 interpolation is "
    "engine-identical) and bucketed into champion/at-risk/lapsed/core "
    "— the marketing-analytics staple. One orders aggregation + a "
    "1-row quartile broadcast; no windows.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        _cents("o_totalprice").alias("cents"),
    )
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    rfm = (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey", "ref_date")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.datediff(F.col("ref_date"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    q = rfm.agg(
        F.percentile("recency_days", F.lit(0.25)).alias("r25"),
        F.percentile("recency_days", F.lit(0.75)).alias("r75"),
        F.percentile("frequency", F.lit(0.25)).alias("f25"),
        F.percentile("frequency", F.lit(0.75)).alias("f75"),
        F.percentile("monetary_cents", F.lit(0.25)).alias("m25"),
        F.percentile("monetary_cents", F.lit(0.75)).alias("m75"),
    )
    r = F.col("recency_days")
    fq = F.col("frequency")
    mn = F.col("monetary_cents")
    return (
        rfm.crossJoin(F.broadcast(q))
        .select(
            "c_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            F.when(r <= F.col("r25"), 3)
            .when(r <= F.col("r75"), 2)
            .otherwise(1)
            .cast("int")
            .alias("r_score"),
            F.when(fq >= F.col("f75"), 3)
            .when(fq >= F.col("f25"), 2)
            .otherwise(1)
            .cast("int")
            .alias("f_score"),
            F.when(mn >= F.col("m75"), 3)
            .when(mn >= F.col("m25"), 2)
            .otherwise(1)
            .cast("int")
            .alias("m_score"),
            F.when(
                (r <= F.col("r25")) & (fq >= F.col("f75")) & (mn >= F.col("m75")),
                "champion",
            )
            .when((r > F.col("r75")) & (mn >= F.col("m75")), "at_risk_big_spender")
            .when(r > F.col("r75"), "lapsed")
            .otherwise("core")
            .alias("segment"),
        )
        .orderBy("c_custkey")
    )


@register(
    "supplier_pareto_share",
    f"""
    WITH rev AS (
      SELECT s.s_suppkey, s.s_name, SUM({_PRICE_DEC_SQL}) AS revenue
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_suppkey, s.s_name),
    tot AS (SELECT SUM(revenue) AS total FROM rev),
    c AS (
      SELECT s_suppkey, s_name, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, s_suppkey) AS cum
      FROM rev)
    SELECT c.s_suppkey, c.s_name,
           CAST(c.revenue AS DOUBLE) AS revenue,
           CAST(c.cum AS DOUBLE) / CAST(t.total AS DOUBLE) AS cum_share
    FROM c, tot t
    WHERE (c.cum - c.revenue) * 5 < t.total * 4
    ORDER BY c.revenue DESC, c.s_suppkey
    """,
    doc="Pareto concentration (80/20): the smallest revenue-ranked "
    "supplier prefix covering 80% of lineitem revenue. The cutoff "
    "compares (cum − revenue)·5 < total·4 — EXACT DECIMAL integer "
    "arithmetic, no float threshold; only the reported cum_share "
    "divides (one IEEE op). The cumulative window is global but runs "
    "on the supplier DIMENSION (suppliers stay dimension-sized at any "
    "fact scale); the fact-table work is one partial-aggregated join.",
)
def supplier_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum(_d("l_extendedprice")).alias("revenue"))
    )
    tot = rev.agg(F.sum("revenue").alias("total"))
    w = Window.orderBy(F.desc("revenue"), F.asc("s_suppkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rev.withColumn("cum", F.sum("revenue").over(w))
        .crossJoin(F.broadcast(tot))
        .filter((F.col("cum") - F.col("revenue")) * 5 < F.col("total") * 4)
        .select(
            "s_suppkey",
            "s_name",
            F.col("revenue").cast("double").alias("revenue"),
            (F.col("cum").cast("double") / F.col("total").cast("double")).alias(
                "cum_share"
            ),
        )
        .orderBy(F.desc("revenue"), "s_suppkey")
    )


@register(
    "events_activity_streaks",
    f"""
    WITH h AS (
      SELECT DISTINCT user_id,
             CAST({_HOUR_EPOCH_SQL} / 3600 AS BIGINT) AS hr
      FROM events),
    isl AS (
      SELECT user_id, hr,
             hr - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hr)
               AS grp
      FROM h),
    st AS (
      SELECT user_id, COUNT(*) AS streak_hours, MIN(hr) AS start_hr
      FROM isl GROUP BY user_id, grp),
    best AS (
      SELECT user_id, streak_hours, start_hr,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_hours DESC, start_hr)
               AS rk
      FROM st)
    SELECT user_id, streak_hours, start_hr
    FROM best WHERE rk = 1 AND streak_hours >= 3
    ORDER BY streak_hours DESC, user_id
    """,
    doc="Gaps-and-islands streak detection: each user's LONGEST run of "
    "consecutive active hours (the hr − row_number island key groups "
    "consecutive hours without a join), users with streaks ≥ 3 ordered "
    "by length — engagement-streak analytics. Every window is "
    "PARTITIONED by user; integer hour epochs keep the island key "
    "exact on both engines.",
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "user_id",
        (_hour_epoch() / 3600).cast("long").alias("hr"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("hr")
    isl = h.withColumn("grp", F.col("hr") - F.row_number().over(w))
    st = isl.groupBy("user_id", "grp").agg(
        F.count("*").alias("streak_hours"), F.min("hr").alias("start_hr")
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("streak_hours"), F.asc("start_hr")
    )
    return (
        st.withColumn("rk", F.row_number().over(wb))
        .filter((F.col("rk") == 1) & (F.col("streak_hours") >= 3))
        .select("user_id", "streak_hours", "start_hr")
        .orderBy(F.desc("streak_hours"), "user_id")
    )


@register(
    "events_time_profile",
    f"""
    SELECT CAST(dayofweek(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour_of_day,
           COUNT(*) AS n_events,
           CAST(SUM({_cents_sql('value', 1000)}) AS BIGINT)
             AS total_value_milli
    FROM events
    GROUP BY 1, 2 ORDER BY dow, hour_of_day
    """,
    doc="Time-of-week seasonality profile: event volume and exact "
    "milli-unit value totals by (day-of-week, hour-of-day) — the "
    "traffic-shape matrix behind capacity planning and anomaly "
    "baselines. Spark's 1-based dayofweek is shifted to DuckDB's "
    "0=Sunday convention; one map-side-combinable aggregation, 168 "
    "output cells regardless of event volume.",
)
def events_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour_of_day"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_cents("value", 1000))
            .cast("long")
            .alias("total_value_milli"),
        )
        .orderBy("dow", "hour_of_day")
    )


@register(
    "events_stream_leaderboard",
    _HOURLY_TOP3_SQL,
    doc="STREAMING leaderboard: top-3 event types per hour computed on "
    "the APPEND-mode streaming rollup's closed-window sink output "
    "(run_events_append_rollup — watermark-evicted, exactly-once) with "
    "a serving-layer rank window per window bucket — the lambda-free "
    "production shape: the stream maintains closed aggregates, the "
    "read path ranks them; hash-matched against the batch "
    "count-and-rank oracle end-to-end.",
)
def events_stream_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    rolled, _ = run_events_append_rollup(spark, sf_dir)
    return _top3_per_hour(rolled)


@register(
    "events_hourly_autocorr",
    f"""
    WITH b AS (
      SELECT CAST({_HOUR_EPOCH_SQL} / 3600 AS BIGINT) AS hr, COUNT(*) AS c
      FROM events GROUP BY 1),
    {_dense_sql("hr", "c")},
    lags(lag) AS (VALUES (1), (2), (3), (24)),
    pairs AS (
      SELECT l.lag, x.c AS x, y.c AS y
      FROM lags l
      JOIN dense x ON TRUE
      JOIN dense y ON y.hr = x.hr + l.lag),
    stats AS (
      SELECT lag, COUNT(*) AS n, SUM(x * y) AS sxy,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sx2, SUM(y * y) AS sy2
      FROM pairs GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag, n, CAST(sxy AS BIGINT) AS sxy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
    FROM stats ORDER BY lag
    """,
    doc="Autocorrelation of the hourly event-count series at lags "
    "{1, 2, 3, 24}: Pearson r of (count_t, count_t+lag) over the "
    "gap-filled dense hour grid — the seasonality detector (lag-24 ≫ "
    "lag-3 means daily rhythm). Sufficient statistics are exact "
    "BIGINTs; the final formula is a fixed IEEE sequence (factor "
    "pre-casts, two sqrts, one divide). Grid cost O(hours), lag dim "
    "is a 4-row broadcast.",
)
def events_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy((_hour_epoch() / 3600).cast("long").alias("hr")).agg(
        F.count("*").alias("c")
    )
    s = _dense(b, "hr", "c")
    lags = spark.createDataFrame([(1,), (2,), (3,), (24,)], "lag int")
    x = s.select(F.col("hr"), F.col("c").alias("x"))
    y = s.select(F.col("hr").alias("hr_y"), F.col("c").alias("y"))
    pairs = (
        F.broadcast(lags)
        .join(x)
        .join(y, F.col("hr_y") == F.col("hr") + F.col("lag"))
    )
    stats = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(d("n") * d("sx2") - d("sx") * d("sx")) * F.sqrt(
        d("n") * d("sy2") - d("sy") * d("sy")
    )
    return stats.select(
        F.col("lag").cast("int").alias("lag"),
        "n",
        "sxy",
        (num / den).alias("acf"),
    ).orderBy("lag")


@register(
    "events_burst_hours",
    f"""
    WITH hourly AS (
      SELECT {_HOUR_EPOCH_SQL} AS hour_epoch,
             CAST(dayofweek(ts) AS INT) AS dow,
             CAST(hour(ts) AS INT) AS hod,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3),
    cell AS (SELECT dow, hod, COUNT(*) AS n_cell,
                    CAST(SUM(c) AS BIGINT) AS cell_total
             FROM hourly GROUP BY dow, hod)
    SELECT h.hour_epoch, h.dow, h.hod, h.c AS n_events,
           l.cell_total, l.n_cell,
           CAST(h.c AS DOUBLE) * l.n_cell / l.cell_total AS lift
    FROM hourly h JOIN cell l USING (dow, hod)
    WHERE 5 * h.c * l.n_cell > 6 * l.cell_total
    ORDER BY hour_epoch
    """,
    doc="Burst detection against the time-of-week baseline: an hour is "
    "a burst when its event count exceeds 1.2× the mean of its "
    "(day-of-week, hour-of-day) cell — the comparison is the exact "
    "integer cross-product 5·c·n_cell > 6·cell_total (no float "
    "threshold); the reported lift is one division. The anomaly layer "
    "on top of events_time_profile: baseline broadcast is 168 rows.",
)
def events_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        _hour_epoch().alias("hour_epoch"),
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count("*").alias("c"))
    cell = hourly.groupBy("dow", "hod").agg(
        F.count("*").alias("n_cell"), F.sum("c").alias("cell_total")
    )
    return (
        hourly.join(F.broadcast(cell), ["dow", "hod"])
        .filter(5 * F.col("c") * F.col("n_cell") > 6 * F.col("cell_total"))
        .select(
            "hour_epoch",
            "dow",
            "hod",
            F.col("c").alias("n_events"),
            "cell_total",
            "n_cell",
            (F.col("c").cast("double") * F.col("n_cell") / F.col("cell_total")).alias(
                "lift"
            ),
        )
        .orderBy("hour_epoch")
    )


@register(
    "nation_supplier_hhi",
    f"""
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey, SUM({_PRICE_DEC_SQL}) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    revq AS (
      SELECT nation, CAST(FLOOR(CAST(r AS DOUBLE) / 1000) AS BIGINT) AS rq
      FROM rev),
    agg AS (
      SELECT nation, COUNT(*) AS n_suppliers,
             SUM(rq) AS total_k, SUM(rq * rq) AS sum_sq
      FROM revq GROUP BY nation)
    SELECT CAST(nation AS INT) AS nation, n_suppliers,
           CAST(total_k AS BIGINT) AS total_k,
           CAST(sum_sq AS BIGINT) AS sum_sq,
           CAST(sum_sq AS DOUBLE)
             / (CAST(total_k AS DOUBLE) * CAST(total_k AS DOUBLE)) AS hhi
    FROM agg ORDER BY nation
    """,
    doc="Herfindahl-Hirschman supplier concentration per nation: "
    "HHI = Σ share² as Σr²/total² over revenues QUANTIZED to exact "
    "thousand-unit BIGINTs first — raw DECIMAL squares carry 21 "
    "significant digits, past double precision, where the two engines' "
    "decimal→double casts differ by an ulp; the quantized sums stay "
    "below 2^53 so every op is exact. HHI→1 = monopoly supplier, "
    "→1/n = fragmented market. One partial-agg pass over lineitem "
    "keyed (nation, supplier).",
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation"), F.col("l_suppkey"))
        .agg(F.sum(_d("l_extendedprice")).alias("r"))
    )
    revq = rev.select(
        "nation",
        F.floor(F.col("r").cast("double") / 1000).cast("long").alias("rq"),
    )
    agg = revq.groupBy("nation").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("rq").alias("total_k"),
        F.sum(F.col("rq") * F.col("rq")).alias("sum_sq"),
    )
    return agg.select(
        F.col("nation").cast("int").alias("nation"),
        "n_suppliers",
        "total_k",
        "sum_sq",
        (
            F.col("sum_sq").cast("double")
            / (F.col("total_k").cast("double") * F.col("total_k").cast("double"))
        ).alias("hhi"),
    ).orderBy("nation")


@register(
    "customer_spend_gini",
    f"""
    WITH x AS (
      SELECT o_custkey,
             SUM({_cents_sql('o_totalprice')}) AS cents
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
      FROM x),
    s AS (SELECT COUNT(*) AS n, SUM(cents) AS s0,
                 SUM(i * cents) AS s1 FROM r)
    SELECT n, CAST(s0 AS BIGINT) AS s0, CAST(s1 AS BIGINT) AS s1,
           CAST(2 * s1 - (n + 1) * s0 AS DOUBLE)
             / CAST(n * s0 AS DOUBLE) AS gini
    FROM s
    """,
    doc="Gini coefficient of customer spend: G = (2·Σi·xᵢ − (n+1)·Σx) "
    "/ (n·Σx) over rank-sorted exact-cent totals — numerator and "
    "denominator stay exact BIGINTs (i·x products fit 2^63 at any "
    "tested sf) and only the final two casts + one division are "
    "float, so the inequality measure is engine-exact. The rank "
    "window runs on the customer DIMENSION (same scale argument as "
    "supplier_pareto_share); tie order pinned by custkey.",
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(_cents("o_totalprice")).alias("cents")
        )
    )
    w = Window.orderBy("cents", "o_custkey")
    r = x.withColumn("i", F.row_number().over(w))
    s = r.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s0"),
        F.sum(F.col("i") * F.col("cents")).alias("s1"),
    )
    return s.select(
        "n",
        "s0",
        "s1",
        (
            (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0")).cast("double")
            / (F.col("n") * F.col("s0")).cast("double")
        ).alias("gini"),
    )


@register(
    "orders_salted_join_rollup",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Skew-mitigation machinery under an oracle: the fact-dim join "
    "runs through skew.salted_join (deterministic per-row salt "
    "scatters each key across 8 sub-keys; the right side replicates "
    "8x via a broadcast range join) and must produce EXACTLY the "
    "plain join's rollup — proving salting is a pure physical rewrite. "
    "This is the explicit fallback for hot keys AQE's per-partition "
    "skew splitting cannot fix (a dominant key with a non-broadcast "
    "build side); on this synthetic data no key is hot, which is "
    "precisely why the equality check is meaningful at any skew.",
)
def orders_salted_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, "l_orderkey", n_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(_d("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "events_stream_countmin",
    """
    WITH cells AS (
      SELECT CAST(r.i AS INT) AS row,
             CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|'
                   || event_type), 1, 15))::BIGINT % 64 AS INT) AS cell,
             COUNT(*) AS cnt
      FROM events CROSS JOIN range(4) r(i) GROUP BY 1, 2),
    probes AS (SELECT DISTINCT event_type FROM events),
    est AS (
      SELECT p.event_type, MIN(COALESCE(c.cnt, 0)) AS cm_est
      FROM probes p CROSS JOIN range(4) r(i)
      LEFT JOIN cells c
        ON c.row = CAST(r.i AS INT)
       AND c.cell = CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|'
                          || p.event_type), 1, 15))::BIGINT % 64 AS INT)
      GROUP BY p.event_type),
    truth AS (SELECT event_type, COUNT(*) AS true_n
              FROM events GROUP BY event_type)
    SELECT t.event_type, t.true_n, CAST(e.cm_est AS BIGINT) AS cm_est
    FROM truth t JOIN est e USING (event_type)
    ORDER BY event_type
    """,
    doc="DRIVEN streaming Count-Min: the events file staged as TWO "
    "disjoint halves (event_id parity), maxFilesPerTrigger=1 so the "
    "sketch STATE accumulates across micro-batches in the complete-"
    "mode (row, cell) aggregation — the final counter table must "
    "equal the batch sketch of the union because CM states merge "
    "cell-wise, and the per-type estimates hash-match the batch SQL "
    "oracle. Fifth driven stream/batch-parity family (aggregate, "
    "join, custom state, dedup, SKETCH): the keep-state-not-data "
    "monitoring pattern (a fixed 4x64 counter table regardless of "
    "stream volume) proven end-to-end.",
)
def events_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..operators import sketches

    src = _events_file(sf_dir)
    ev = load_table(spark, sf_dir, "events")
    halves = [f"{_temp('cm', src)}_h{half}.parquet" for half in (0, 1)]
    if not all(map(os.path.exists, halves)):
        table = pq.read_table(src)
        parity = pc.bit_wise_and(table["event_id"], 1)
        for half, path in enumerate(halves):
            pq.write_table(table.filter(pc.equal(parity, half)), path)
    stream, _ = _stage_events(spark, *halves, max_files=1)
    sketch = sketches.count_min_build(
        stream.select("event_type"), "event_type", depth=4, width=64
    )
    q = feeds._drain(sketch, "complete")
    state = spark.table(q.name)
    truth = ev.groupBy("event_type").agg(F.count("*").alias("true_n"))
    est = sketches.count_min_estimate(
        state, truth, "event_type", depth=4, width=64
    )
    return est.select("event_type", "true_n", "cm_est").orderBy("event_type")
