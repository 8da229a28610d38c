"""The scripts in ``tools/``: each one imports cleanly and does nothing at
import (no Spark session, no output), and ``tools/ab.py`` reports row
identity in both directions and counts jobs from pool threads."""

import importlib.util
import pathlib
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import SparkSession

TOOLS_DIR = pathlib.Path(__file__).resolve().parent.parent / "tools"
TOOLS = sorted(TOOLS_DIR.glob("*.py"))


def _load(path: pathlib.Path):
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports_without_running(path, monkeypatch, capsys):
    def no_session(builder):
        raise AssertionError(f"{path.name} starts a Spark session at import")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    monkeypatch.setattr(sys, "path", list(sys.path))
    _load(path)
    assert capsys.readouterr().out == ""


def test_ab_reports_row_identity_in_both_directions(spark):
    ab = _load(TOOLS_DIR / "ab.py").ab
    same = ab(spark, lambda: spark.range(5), lambda: spark.range(5), reps=2)
    assert same["identical"] and same["only_in_a"] == same["only_in_b"] == 0
    for side in ("a", "b"):
        assert len(same[side]["runs_s"]) == 2
        assert same[side]["jobs"] >= 1 and same[side]["median_s"] > 0

    # b lacks one of a's rows, then the other way round
    short_b = ab(spark, lambda: spark.range(5), lambda: spark.range(4), reps=1)
    assert (short_b["identical"], short_b["only_in_a"], short_b["only_in_b"]) == (False, 1, 0)
    short_a = ab(spark, lambda: spark.range(4), lambda: spark.range(5), reps=1)
    assert (short_a["identical"], short_a["only_in_a"], short_a["only_in_b"]) == (False, 0, 1)


def test_ab_counts_jobs_run_in_pool_threads(spark):
    ab = _load(TOOLS_DIR / "ab.py").ab

    def pooled():
        # the side's only job runs in a pool thread: an inline table is
        # collected without a job
        with ThreadPoolExecutor(1) as pool:
            pool.submit(spark.range(10).count).result()
        return spark.sql("VALUES (1) AS t(x)")

    report = ab(spark, pooled, pooled, reps=1)
    assert report["a"]["jobs"] >= 1 and report["b"]["jobs"] >= 1
