"""Table loaders for the driver testdata.

The driver generates a TPC-H-ish star schema plus ``events`` (stream),
``documents`` and ``embeddings`` (pipeline tables) at
``/root/testdata/sf{0.001,0.01,0.1}`` (see TESTDATA.md). All declared
queries take an ``sf_dir`` and read parquet from it — filters and column
pruning are pushed to the scan by Catalyst, so loaders never pre-select.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil
import tempfile

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


# a staged file's name: the path up to its source tag, then its identity tag
_STAGED = re.compile(r"(nes_\w+?_[0-9a-f]{12})_[0-9a-f]{12}")


def _tag(obj) -> str:
    return hashlib.md5(repr(obj).encode()).hexdigest()[:12]


def _temp(kind: str, *files: str) -> str:
    """The temp-dir path ``nes_<kind>_<source>_<identity>`` for what a
    query stages from ``files``: <source> hashes their realpaths and
    <identity> their sizes and mtimes in ns; callers add suffixes for
    the dirs and files they stage there. A file-stream source never
    re-reads a path it has seen, so a file rewritten in place must get
    fresh stage, checkpoint and output dirs, or append-mode queries
    would return the old file's rows.

    The first call for a new identity removes what ``kind`` staged for
    the older identities of the same sources, and nothing else. A staged
    input (a sentinel, a Count-Min half) counts as its source by its
    name without the identity tag, so the stage built on a rewritten
    file's staged inputs replaces the old one too."""
    sources, ident = [], []
    for f in files:
        real = os.path.realpath(f)
        st = os.stat(real)
        sources.append(_STAGED.sub(r"\1", real))
        ident.append((real, st.st_size, st.st_mtime_ns))
    prefix = os.path.join(tempfile.gettempdir(), f"nes_{kind}_{_tag(sources)}_")
    path = prefix + _tag(ident)
    if not glob.glob(glob.escape(path) + "*"):
        for old in glob.glob(glob.escape(prefix) + "*"):
            if os.path.isdir(old) and not os.path.islink(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(old)
    return path


def _parquet_files(sf_dir: str) -> list[str]:
    """The parquet tables of ``sf_dir``, in name order."""
    return sorted(glob.glob(os.path.join(glob.escape(sf_dir), "*.parquet")))


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
