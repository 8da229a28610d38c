"""The oracle contract: a registry query's Spark plan against its DuckDB twin.

``connect`` opens DuckDB with a view per table of a data dir, ``canon``
puts rows in the one comparable form, and ``check`` runs a query on both
engines and compares the two: the column names, the row count, every
value exactly, and each column's output dtype category. The tests, the
sf0.01 gate (``tools/verify_gate.py``) and the oracle digest all go
through here; nothing else restates these rules.
"""

from __future__ import annotations

import os
import re

import duckdb
from pyspark.sql import SparkSession

from ..catalog import TABLES
from . import Query

OK, EMPTY, MISMATCH, ROWS_ONLY = "OK", "EMPTY", "MISMATCH", "ROWS_ONLY"
# the stages of ``check``'s compare, in order: a MISMATCH detail starts
# with the name of the stage that failed
COLUMNS, ROWS, VALUES, DTYPES = "columns", "rows", "values", "dtypes"


def connect(data_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table over ``data_dir``'s
    ``<table>.parquet``: a single file or a Spark-written directory."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(cols, rows) -> tuple[list[str], list[tuple]]:
    """``(names, rows)``: the lower-cased column names in sorted order and
    the rows with their values in that order, sorted by ``(is None, str)``
    per value. Each float becomes its ``repr``, so ``==`` on the result is
    exact: NaN equals only NaN, ``-0.0`` is not ``0.0`` and ``1.0`` is not
    ``1``."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=names.__getitem__)
    out = [
        tuple(repr(v) if isinstance(v, float) else v for v in (row[i] for i in order))
        for row in rows
    ]
    out.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    return [names[i] for i in order], out


_CATEGORY = {
    **dict.fromkeys(
        ("tinyint", "smallint", "int", "integer", "bigint",
         "utinyint", "usmallint", "uinteger", "ubigint"),
        "int",
    ),
    **dict.fromkeys(("double", "float"), "float"),
    **dict.fromkeys(("string", "varchar"), "str"),
    **dict.fromkeys(("binary", "blob"), "binary"),
    "date": "date",
    "boolean": "bool",
}


def _category(t) -> tuple:
    """The serialization category of a Spark or DuckDB output type: equal
    values of two columns with the same category collect as equal Python
    values. A decimal's category includes its scale."""
    t = str(t).lower()
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
    if m:
        return ("decimal", int(m.group(2)))
    if t.startswith("timestamp"):
        return ("timestamp",)
    if t.startswith("array") or t.endswith("]"):
        return ("list",)
    if t in _CATEGORY:
        return (_CATEGORY[t],)
    return ("other", t)


def _dtype_faults(sdf, rel) -> dict:
    """The output columns whose Spark and DuckDB categories differ, and
    every list column. A bare ``SUM(CASE … 1 … 0)`` is HUGEINT in DuckDB
    and collects as ``Decimal`` where Spark's BIGINT collects as ``int``
    (``q12`` once hashed unequal with equal rows this way): CAST such an
    oracle aggregate to BIGINT. A list cell cannot be hashed by a pandas
    ``sort_values`` canon (``emb_label_centroids`` failed a correctness
    run this way): serialize it (``array_join`` / ``concat_ws`` /
    ``to_json``) or explode it to rows."""
    spark_t = {c.lower(): _category(t) for c, t in sdf.dtypes}
    duck_t = {c.lower(): _category(t) for c, t in zip(rel.columns, rel.types)}
    return {
        c: (spark_t[c], duck_t[c])
        for c in spark_t
        if spark_t[c] != duck_t[c] or spark_t[c] == ("list",)
    }


def check(spark: SparkSession, con, q: Query, data_dir: str):
    """Run ``q`` on Spark over ``data_dir`` and its oracle on ``con``:
    ``(status, detail, rows)`` with the Spark rows, ``status`` one of
    ``OK`` / ``EMPTY`` (both sides returned no rows) / ``MISMATCH`` /
    ``ROWS_ONLY`` (no oracle: the plan only runs). The columns are matched
    by lower-cased name, in any order."""
    sdf = q.spark(spark, data_dir)
    rows = sdf.collect()
    if q.oracle is None:
        return ROWS_ONLY, f"{len(rows)} rows", rows
    rel = con.sql(q.oracle)
    s_names, s_rows = canon(sdf.columns, rows)
    d_names, d_rows = canon(rel.columns, rel.fetchall())
    if s_names != d_names:
        return MISMATCH, f"{COLUMNS} {s_names} vs {d_names}", rows
    if len(s_rows) != len(d_rows):
        return MISMATCH, f"{ROWS} {len(s_rows)} vs {len(d_rows)}", rows
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return MISMATCH, f"{VALUES} of row {i}: {a} vs {b}", rows
    faults = _dtype_faults(sdf, rel)
    if faults:
        return MISMATCH, f"{DTYPES} {faults}", rows
    return (OK, f"{len(rows)} rows", rows) if rows else (EMPTY, "", rows)
