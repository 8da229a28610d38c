"""Per-layer metrics of a traced run, derived from its spans.

Names follow the engine's modules. Times are medians over the measured
passes; counts are per pass (median over passes). A layer the workload
does not call reports 0. ``traced.setup_s`` and ``traced.pass_s`` are the
traced run's own end-to-end figures: subtracting the untraced run's
``setup_s`` / ``pass_s`` gives the tracing overhead.
"""

from __future__ import annotations

from collections import defaultdict

from .stats import median
from .workloads import QUERY_MIX

FAMILIES = (
    "nodes",
    "relationships",
    "first_property",
    "properties",
    "ownership",
    "dictionaries",
    "graph_props",
)
TRAVERSAL_OPS = ("bfs", "cc", "pagerank")
_PLAN_COUNTS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    return "count"


NAMES: list[str] = (
    ["session.start_s", "catalog.load_s", "derive.graph_s",
     "generator.fixture_s", "generator.records",
     "plans.build_s", "plans.plan_s", "plans.execute_s", "plans.build_jobs"]
    + [f"plans.{k}" for k in _PLAN_COUNTS]
    + [f"plans.{q}.{k}" for q in QUERY_MIX for k in ("s", "jobs")]
    + [f"traversal.{op}.{k}" for op in TRAVERSAL_OPS for k in ("s", "jobs", "build_s")]
    + ["traversal.shuffle_bytes",
       "community.parts_ktruss_bounded.s", "community.parts_ktruss_bounded.jobs",
       "record_checks.validate_s", "record_checks.build_s"]
    + [f"record_checks.{f}.s" for f in FAMILIES]
    + ["record_checks.jobs", "record_checks.shuffle_bytes", "record_checks.verify_s",
       "snapshot.full_backup_s", "txlog.incremental_backup_s", "snapshot.load_s",
       "txlog.replay_s", "snapshot.bytes_written", "txlog.bytes_written", "txlog.txs",
       "traced.setup_s", "traced.pass_s"]
)
UNITS: dict[str, str] = {n: _unit(n) for n in NAMES}


def per_layer(spans, counts, wl, e2e: dict[str, float]) -> dict[str, float]:
    by_id = {s.span_id: s for s in spans}
    ops = [s for s in spans if s.attrs.get("measured")]
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            kids[s.parent_id].append(s)

    def op_spans(prefix: str):
        return [s for s in ops if s.name == prefix or s.name.startswith(prefix + ".")]

    def in_ops(name: str, within: list):
        """Spans called ``name`` anywhere below the given op spans."""
        ids = {s.span_id for s in within}
        out = []
        for s in spans:
            p = s.parent_id
            while p is not None and p not in ids:
                p = by_id[p].parent_id
            if p is not None and s.name == name:
                out.append(s)
        return out

    def per_pass(selected, value) -> float:
        """Median over passes of the per-pass sum of ``value(span)``."""
        sums = defaultdict(float)
        for s in selected:
            top = s
            while top.parent_id is not None:
                top = by_id[top.parent_id]
            sums[top.attrs["pass_no"]] += value(s)
        return median(list(sums.values())) if sums else 0.0

    def med(selected, value) -> float:
        return median([value(s) for s in selected]) if selected else 0.0

    def dur(s):
        return s.duration

    def count(key):
        return lambda s: counts[s.span_id][key]

    def setup_span(name: str) -> float:
        return sum(s.duration for s in spans if s.name == name and s.parent_id is None
                   and not s.attrs.get("measured"))

    m = {
        "session.start_s": setup_span("session.start"),
        "catalog.load_s": setup_span("catalog.load"),
        "derive.graph_s": setup_span("derive.graph"),
        "generator.fixture_s": setup_span("generator.fixture"),
        "generator.records": getattr(wl, "records", 0),
    }

    plan_ops = op_spans("plans")
    m["plans.build_s"] = per_pass(in_ops("build", plan_ops), dur)
    m["plans.plan_s"] = per_pass(in_ops("plan", plan_ops), lambda s: s.attrs["catalyst_s"])
    m["plans.execute_s"] = per_pass(in_ops("execute", plan_ops), dur)
    m["plans.build_jobs"] = per_pass(in_ops("build", plan_ops), count("jobs"))
    for k in _PLAN_COUNTS:
        m[f"plans.{k}"] = per_pass(plan_ops, count(k))
    for q in QUERY_MIX:
        sel = op_spans(f"plans.{q}")
        m[f"plans.{q}.s"] = med(sel, dur)
        m[f"plans.{q}.jobs"] = med(sel, count("jobs"))

    for op in TRAVERSAL_OPS:
        sel = op_spans(f"traversal.{op}")
        m[f"traversal.{op}.s"] = med(sel, dur)
        m[f"traversal.{op}.jobs"] = med(sel, count("jobs"))
        m[f"traversal.{op}.build_s"] = med(in_ops("build", sel), dur)
    m["traversal.shuffle_bytes"] = per_pass(op_spans("traversal"), count("shuffle_bytes"))
    sel = op_spans("community.parts_ktruss_bounded")
    m["community.parts_ktruss_bounded.s"] = med(sel, dur)
    m["community.parts_ktruss_bounded.jobs"] = med(sel, count("jobs"))

    sel = [s for s in ops if s.name == "record_checks.validate"]
    m["record_checks.validate_s"] = med(sel, dur)
    m["record_checks.jobs"] = med(sel, count("jobs"))
    m["record_checks.shuffle_bytes"] = med(sel, count("shuffle_bytes"))
    m["record_checks.build_s"] = med([s for s in spans if s.name == "record_checks.build"], dur)
    for f in FAMILIES:
        m[f"record_checks.{f}.s"] = med([s for s in spans if s.name == f"record_checks.family.{f}"], dur)
    restores = op_spans("snapshot.restore")
    m["record_checks.verify_s"] = med(in_ops("record_checks.verify", restores), dur)
    m["snapshot.full_backup_s"] = med(op_spans("snapshot.full_backup"), dur)
    m["txlog.incremental_backup_s"] = med(op_spans("txlog.incremental_backup"), dur)
    m["snapshot.load_s"] = med(in_ops("snapshot.load", restores), dur)
    m["txlog.replay_s"] = med(in_ops("txlog.replay", restores), dur)
    written = getattr(wl, "backup_bytes", {})
    m["snapshot.bytes_written"] = written.get("snapshot", 0)
    m["txlog.bytes_written"] = written.get("txlog", 0)
    m["txlog.txs"] = getattr(wl, "txs_after_cut", 0)
    m["traced.setup_s"] = e2e["setup_s"]
    m["traced.pass_s"] = e2e["pass_s"]
    return {n: float(m[n]) for n in NAMES}
