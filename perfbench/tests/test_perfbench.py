"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import types

import pytest

from perfbench import layers, run
from perfbench.stats import TAIL_BEYOND, tail
from perfbench.tracing import Span, Tracer, covered, self_times
from perfbench.verify import check_rows, expected_entry
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- names -----------------------------------------------------------------

def test_workload_names_match(bench):
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_end_to_end_names_and_units_match(bench):
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS


def test_per_layer_names_and_units_match(bench):
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert len(layers.NAMES) == len(set(layers.NAMES))


def test_per_layer_emits_every_name_for_any_workload():
    # one measured query call with build / plan / execute children
    op = Span(0, None, "plans.q1_pricing_summary", 0.0, 3.0, 0, 4,
              {"measured": True, "pass_no": 0})
    spans = [
        Span(1, 0, "build", 0.0, 1.0, 0, 1),
        Span(2, 0, "plan", 1.0, 1.5, 1, 1, {"catalyst_s": 0.2}),
        Span(3, 0, "execute", 1.5, 3.0, 1, 4),
        op,
    ]
    zero = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    counts = {s.span_id: dict(zero, jobs=s.end_job - s.first_job) for s in spans}
    got = layers.per_layer(spans, counts, types.SimpleNamespace(), {"setup_s": 1.0, "pass_s": 3.0})
    assert list(got) == layers.NAMES
    assert got["plans.q1_pricing_summary.s"] == 3.0
    assert got["plans.q1_pricing_summary.jobs"] == 4
    assert got["plans.build_jobs"] == 1
    assert got["plans.plan_s"] == 0.2
    assert got["plans.execute_s"] == 1.5
    assert got["traversal.cc.s"] == 0.0


# -- tail rule -------------------------------------------------------------

def test_tail_has_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(100)]
    value, pct, n = tail(samples)
    assert n == 100
    assert sum(x > value for x in samples) == TAIL_BEYOND
    assert value == 89.0 and pct == 90.0


def test_tail_is_order_free():
    samples = [float(i) for i in range(40)]
    assert tail(samples) == tail(list(reversed(samples)))
    assert tail(samples)[0] == 29.0


def test_tail_falls_back_to_max_when_it_would_not_be_a_tail():
    # with 19 samples the order statistic with ten above it is the 9th:
    # below the median, so the maximum is reported with its sample count
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    assert tail([5.0]) == (5.0, 100.0, 1)
    value, pct, n = tail([float(i) for i in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)
    with pytest.raises(ValueError):
        tail([])


# -- self time -------------------------------------------------------------

def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(1, 3), (2, 5), (7, 8)]) == 5.0
    assert covered([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, None, "op", 0.0, 10.0),
        Span(1, 0, "build", 1.0, 3.0),
        Span(2, 0, "execute", 2.0, 5.0),   # overlaps build: counted once
        Span(3, 2, "inner", 2.5, 4.5),     # grandchild: only the child pays
        Span(4, 0, "execute", 7.0, 8.0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(5.0)
    assert got[2] == pytest.approx(1.0)
    assert got[1] == pytest.approx(2.0)
    assert got[3] == pytest.approx(2.0)


class _FakeSpark:
    """Just enough of a session for Tracer: a job-id counter."""

    def __init__(self):
        self.next_job = 0
        dag = types.SimpleNamespace(nextJobId=lambda: self.next_job)
        sc = types.SimpleNamespace(dagScheduler=lambda: dag)
        self.sparkContext = types.SimpleNamespace(_jsc=types.SimpleNamespace(sc=lambda: sc))


def test_tracer_nests_spans_and_counts_job_ranges():
    spark = _FakeSpark()
    tr = Tracer(spark)
    with tr.span("op", measured=True) as op:
        spark.next_job += 2
        with tr.span("build") as build:
            spark.next_job += 3
    assert build.parent_id == op.span_id and op.parent_id is None
    assert (op.first_job, op.end_job) == (0, 5)
    assert (build.first_job, build.end_job) == (2, 5)
    assert op.attrs == {"measured": True}


def test_tracer_wrapping_restores_a_classmethod():
    class Store:
        @classmethod
        def load(cls, x):
            return (cls, x)

    tr = Tracer(_FakeSpark())
    with tr.wrapping(Store, "load", "snapshot.load"):
        assert Store.load(1) == (Store, 1)
    assert isinstance(vars(Store)["load"], classmethod)
    assert [s.name for s in tr.spans] == ["snapshot.load"]


# -- result checks ---------------------------------------------------------

ROWS = [(1, "a", 0.1, None), (2, "b", float("nan"), True), (3, "c", -0.0, False)]
COLS = ["k", "Name", "x", "flag"]


def test_check_accepts_same_rows_in_any_order_and_column_order():
    exp = expected_entry(COLS, ROWS, keep_rows=0)
    assert "canon" not in exp
    assert check_rows(exp, COLS, list(reversed(ROWS))) is None
    swapped = [(r[1], r[0], r[2], r[3]) for r in ROWS]
    assert check_rows(exp, ["name", "K", "x", "flag"], swapped) is None
    zero = [(3, "c", 0.0, False) if r[0] == 3 else r for r in ROWS]
    assert check_rows(exp, COLS, zero) is None  # -0.0 == 0.0, as in the typed compare


@pytest.mark.parametrize("perturbed", [
    [(1, "a", math.nextafter(0.1, 1.0), None)] + ROWS[1:],  # last bit of a float
    [(1, "a", 0.1, False)] + ROWS[1:],                      # NULL -> value
    [(4, "a", 0.1, None)] + ROWS[1:],                       # key
    ROWS[:2],                                               # a row missing
    ROWS + ROWS[:1],                                        # a duplicate row
])
def test_check_rejects_a_perturbed_result(perturbed):
    exp = expected_entry(COLS, ROWS, keep_rows=10)
    assert check_rows(exp, COLS, perturbed) is not None


def test_check_rejects_other_columns():
    exp = expected_entry(COLS, ROWS, keep_rows=10)
    assert check_rows(exp, ["k", "name", "x", "other"], ROWS) is not None


def test_committed_expected_results_cover_every_checked_call():
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    from perfbench.workloads import QUERY_MIX

    assert set(expected["query_mix"]) == set(QUERY_MIX)
    assert set(expected["graph_iterative"]) == {
        "bfs_2hop_reach", "parts_ktruss_bounded", "cc", "pagerank"}
    assert expected["store_ops"]["fixture_violations"]["rows"] == 33
    assert set(expected["store_ops"]["full_replay"]) == {
        "nodes", "relationships", "properties", "relationship_types", "property_keys"}
