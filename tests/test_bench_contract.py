"""Driver-contract pins for bench.py: the stdout
line must stay parseable under the driver's 2000-char stdout tail, and
the $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS environment contract must
stay wired (a hard-coded master ruins the driver's low-core scaling
measurement)."""

from __future__ import annotations

import ast
import importlib
import json
import os
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _bench():
    import sys

    sys.path.insert(0, str(REPO))
    return importlib.import_module("bench")


def test_contract_line_is_compact_and_schema_exact():
    bench = _bench()
    # a report the size of the real 24-query bench, plus the blocks that
    # must NOT leak into the stdout line
    report = {
        "metric": "headline_queries_wall_clock",
        "value": 31.393,
        "unit": "sec",
        "queries": {f"query_name_number_{i:02d}": round(0.1 * i, 3) for i in range(30)},
        "sf": 0.1,
        "phases": [{"name": f"q{i}", "elementCount": 10**6, "time": 999} for i in range(30)],
        "total": {"elementCount": 1, "time": 1, "recordsPerSecond": 1},
        "b1_canonical": {"name": "x", "time": 1},
    }
    line = bench.contract_line(report)
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert parsed["queries"] == report["queries"]
    assert "\n" not in line
    # the driver keeps a 2000-char stdout tail; the whole line must fit
    # with slack for query-set growth
    assert len(line) < 1900, f"contract line {len(line)} chars risks tail truncation"


def test_bench_env_contract_wired():
    src = (REPO / "bench.py").read_text()
    assert re.search(r"SPARK_GRAFT_SF_DIR", src), "sf dir must come from $SPARK_GRAFT_SF_DIR"
    # cores flow through session.get_spark's $SPARK_GRAFT_CPUS default
    session_src = (REPO / "neo4j_enterprise_spark" / "session.py").read_text()
    assert re.search(r'SPARK_GRAFT_CPUS', session_src)
    assert re.search(r'local\[\{?cpus', session_src), "master must be local[$SPARK_GRAFT_CPUS]"
    assert not re.search(r"local\[\d", src + session_src), "no hard-coded local[N] core count"


def test_bench_main_prints_exactly_one_stdout_line():
    """Every print() in bench.py except the final contract line must go
    to stderr — a polluted stdout is how a round's comparability dies
    (BENCH_r11 parsed: null)."""
    tree = ast.parse((REPO / "bench.py").read_text())
    stdout_prints = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "print"
            and not any(k.arg == "file" for k in node.keywords)
        ):
            stdout_prints.append(node)
    assert len(stdout_prints) == 1, (
        f"bench.py has {len(stdout_prints)} stdout print() calls; the driver "
        "contract allows exactly one (the contract line)"
    )
