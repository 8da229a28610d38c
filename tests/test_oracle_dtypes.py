"""Registry-wide oracle-vs-Spark OUTPUT dtype guard.

The driver's correctness hash serializes collected values; a DuckDB
output column whose Python representation differs from Spark's for
equal values (the r3 ``q12`` lesson: bare ``SUM(CASE…1…0)`` is HUGEINT
in DuckDB, which round-trips as ``decimal.Decimal``/object while
Spark's BIGINT is a plain int) produces ``hash_match: false`` with
``rows_match: true``.  This test catches the whole class before the
driver does: for every oracle-bearing query, build both sides' output
schemas and require each output column pair to land in the same
serialization category.

NOTE on cost: obtaining the Spark schema calls ``q.spark()``, which for
driver-action queries (streaming registrations, roundtrip writes,
seed-collect plans) EXECUTES the action — this test is as heavy as the
parity suite, not a compile-only check.

Categories (what the hash layer actually distinguishes):
- int:      DuckDB TINYINT/SMALLINT/INTEGER/BIGINT  ~ Spark *int types
- float:    DOUBLE/FLOAT                            ~ Spark double/float
- decimal:  DECIMAL(p,s)                            ~ Spark decimal (same s)
- str/date/timestamp/bool/binary: like-for-like
- HUGEINT / UHUGEINT: always an error — no Spark twin serializes equal.
- list (either side): always an error — the driver's pandas canon
  ``sort_values`` cannot hash list cells (``emb_label_centroids``
  failed the r04 correctness run this way). Serialize at the output boundary
  (``array_join``/``concat_ws``/``to_json``) or explode to rows.
"""

from __future__ import annotations

import os
import re

import duckdb
import pytest

from neo4j_enterprise_spark.catalog import TABLES
from neo4j_enterprise_spark.plans import all_queries

QUERIES = all_queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle is not None)

_DECIMAL_RE = re.compile(r"DECIMAL\((\d+),(\d+)\)", re.I)
_S_DECIMAL_RE = re.compile(r"decimal\((\d+),(\d+)\)", re.I)


def _duck_category(t: str) -> tuple:
    t = str(t).upper()
    if t in ("HUGEINT", "UHUGEINT"):
        return ("HUGEINT",)  # never allowed on an output column
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return ("int",)
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return ("float",)
    m = _DECIMAL_RE.match(t)
    if m:
        return ("decimal", int(m.group(2)))
    if t in ("VARCHAR", "STRING"):
        return ("str",)
    if t == "DATE":
        return ("date",)
    if t.startswith("TIMESTAMP"):
        return ("timestamp",)
    if t == "BOOLEAN":
        return ("bool",)
    if t.endswith("[]") or t.startswith("LIST") or t.startswith("ARRAY"):
        return ("list",)
    if t in ("BLOB", "BYTEA", "BINARY"):
        return ("binary",)
    return ("other", t)


def _spark_category(t: str) -> tuple:
    t = str(t).lower()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return ("int",)
    if t in ("double", "float"):
        return ("float",)
    m = _S_DECIMAL_RE.match(t)
    if m:
        return ("decimal", int(m.group(2)))
    if t == "string":
        return ("str",)
    if t == "date":
        return ("date",)
    if t.startswith("timestamp"):
        return ("timestamp",)
    if t == "boolean":
        return ("bool",)
    if t.startswith("array"):
        return ("list",)
    if t == "binary":
        return ("binary",)
    return ("other", t)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_output_dtypes_match(spark, sf_dir, duck, name):
    q = QUERIES[name]
    sdf = q.spark(spark, sf_dir)
    s_types = {c.lower(): _spark_category(t) for c, t in sdf.dtypes}
    rel = duck.sql(q.oracle)
    d_types = {c.lower(): _duck_category(t) for c, t in zip(rel.columns, rel.types)}
    assert set(s_types) == set(d_types), f"{name}: column sets differ"
    bad = {}
    for c in s_types:
        if d_types[c] == ("HUGEINT",):
            bad[c] = (s_types[c], "HUGEINT — CAST the oracle aggregate to BIGINT")
        elif s_types[c] == ("list",) or d_types[c] == ("list",):
            bad[c] = (
                s_types[c],
                d_types[c],
                "list output breaks the driver canon — serialize via "
                "array_join/concat_ws/to_json or explode to rows",
            )
        elif s_types[c] != d_types[c]:
            bad[c] = (s_types[c], d_types[c])
    assert not bad, f"{name}: output dtype category mismatches {bad}"
