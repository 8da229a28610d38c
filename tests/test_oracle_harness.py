"""``plans/oracle.py`` is the one Spark-vs-DuckDB compare: a one-cell
perturbation of a real result fails through ``oracle.check``, ``canon``
keeps floats exact, and no other file in ``tests/`` or ``tools/`` opens
DuckDB views or sorts rows its own way."""

from __future__ import annotations

import dataclasses
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from neo4j_enterprise_spark.plans import all_queries, oracle


def _first():
    return (F.col("l_returnflag") == "A") & (F.col("l_linestatus") == "F")


def _in_first_row(col: str, value):
    return lambda df: df.withColumn(col, F.when(_first(), value()).otherwise(F.col(col)))


# each perturbation and the stage of ``oracle.check`` that fails on it
PERTURBATIONS = {
    "changed_value": (
        _in_first_row("count_order", lambda: F.col("count_order") + 1), oracle.VALUES
    ),
    "dropped_row": (lambda df: df.filter(~_first()), oracle.ROWS),
    "renamed_column": (
        lambda df: df.withColumnRenamed("avg_disc", "avg_discount"), oracle.COLUMNS
    ),
    "int_as_double": (
        lambda df: df.withColumn("count_order", F.col("count_order").cast("double")),
        oracle.VALUES,
    ),
    "decimal_scale": (
        lambda df: df.withColumn("sum_base_price", F.col("sum_base_price").cast("decimal(18,3)")),
        oracle.DTYPES,
    ),
    "nan_for_number": (_in_first_row("sum_qty", lambda: F.lit(float("nan"))), oracle.VALUES),
}


@pytest.fixture(scope="module")
def con(sf_dir):
    with oracle.connect(sf_dir) as con:
        yield con


@pytest.fixture(scope="module")
def q1(spark, sf_dir):
    """``q1_pricing_summary`` at sf0.001 with ``sum_base_price`` as
    DECIMAL(18,2) on both sides; ``q1(perturb)`` is the query whose Spark
    side serves ``perturb`` of the collected result."""
    q = all_queries()["q1_pricing_summary"]
    res = q.spark(spark, sf_dir).withColumn(
        "sum_base_price", F.col("sum_base_price").cast("decimal(18,2)")
    )
    frame = spark.createDataFrame(res.collect(), res.schema)
    sql = (
        "SELECT * REPLACE (CAST(sum_base_price AS DECIMAL(18,2)) AS sum_base_price) "
        f"FROM ({q.oracle})"
    )
    return lambda perturb: dataclasses.replace(
        q, spark=lambda spark, sf_dir: perturb(frame), oracle=sql
    )


def test_the_real_result_passes(spark, sf_dir, con, q1):
    status, detail, rows = oracle.check(spark, con, q1(lambda df: df), sf_dir)
    assert (status, detail) == (oracle.OK, f"{len(rows)} rows") and rows


@pytest.mark.parametrize("perturb, stage", PERTURBATIONS.values(), ids=PERTURBATIONS.keys())
def test_one_cell_perturbation_is_a_mismatch(spark, sf_dir, con, q1, perturb, stage):
    status, detail, _ = oracle.check(spark, con, q1(perturb), sf_dir)
    assert status == oracle.MISMATCH and detail.startswith(stage), detail


def test_empty_int_as_double_fails_the_dtype_stage(spark, sf_dir, con, q1):
    perturb, _ = PERTURBATIONS["int_as_double"]
    q = q1(lambda df: perturb(df).limit(0))
    q = dataclasses.replace(q, oracle=f"SELECT * FROM ({q.oracle}) LIMIT 0")
    status, detail, _ = oracle.check(spark, con, q, sf_dir)
    assert status == oracle.MISMATCH and detail.startswith(oracle.DTYPES), detail


def test_parity_holds_the_oracle_column_order(spark, sf_dir, con, q1, oracle_parity):
    """``check`` matches columns by name; ``oracle_parity``, whose callers
    read rows by position, also holds them to the oracle's order."""
    swapped = q1(lambda df: df.select(*reversed(df.columns)))
    assert oracle.check(spark, con, swapped, sf_dir)[0] == oracle.OK
    assert oracle_parity(q1(lambda df: df), sf_dir)
    with pytest.raises(AssertionError):
        oracle_parity(swapped, sf_dir)


def test_canon_is_exact():
    def one(v):
        return oracle.canon(["x"], [(v,)])

    assert one(float("nan")) == one(float("nan"))
    assert one(-0.0) != one(0.0)
    assert one(1.0) != one(1)
    assert oracle.canon(["B", "a"], [(1, None), (0, 2)]) == (["a", "b"], [(2, 0), (None, 1)])


def test_views_and_row_sorts_only_in_the_harness():
    root = pathlib.Path(__file__).resolve().parent.parent
    pattern = re.compile(r"CREATE\s+(OR\s+REPLACE\s+)?VIEW|is None,\s*str\(|key\s*=\s*repr", re.I)
    hits = [
        f"{path.relative_to(root)}:{i}"
        for folder in ("tests", "tools")
        for path in sorted((root / folder).glob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []
    assert len(pattern.findall(pathlib.Path(oracle.__file__).read_text())) == 2
