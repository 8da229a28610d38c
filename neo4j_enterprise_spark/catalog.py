"""Table loaders for the driver testdata.

The driver generates a TPC-H-ish star schema plus ``events`` (stream),
``documents`` and ``embeddings`` (pipeline tables) at
``/root/testdata/sf{0.001,0.01,0.1}`` (see TESTDATA.md). All declared
queries take an ``sf_dir`` and read parquet from it — filters and column
pruning are pushed to the scan by Catalyst, so loaders never pre-select.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_ts(events: DataFrame) -> DataFrame:
    """``events`` with ``ts`` as a µs TIMESTAMP, from either testdata
    vintage. Older generators wrote TIMESTAMP(NANOS), which Spark's
    parquet reader only accepts as LONG (via the legacy nanosAsLong conf
    the reader must set): converted exactly, the values are µs-grained.
    Newer ones write TIMESTAMP(MICROS), which may decode as
    ``timestamp_ntz``. Either way the result matches DuckDB's TIMESTAMP
    semantics; batch reads and file-stream sources both go through here."""
    ts_type = dict(events.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):
        return events.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    if ts_type == "timestamp_ntz":
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin the session timezone: the driver's own SparkSession may default
    # to the machine timezone, and timestamp<->date comparisons /
    # date_trunc would then shift against the DuckDB oracle's UTC
    # semantics. Runtime-settable, idempotent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _normalize_ts(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
