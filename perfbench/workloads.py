"""The three workloads: what each builds in set-up, runs in a pass, and
checks after each timed call.

Every call into the engine goes through a public entry point:
``plans.all_queries()[name].spark``, ``operators.traversal``,
``graph.generator.fixture_graph``, ``operators.record_checks``,
``sources.snapshot`` and ``sources.txlog``. Why each workload exists and
which layer it loads is written down in README.md next to this file.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from neo4j_enterprise_spark.catalog import DEFAULT_SF_DIR, load_all
from neo4j_enterprise_spark.graph.derive import derived_nodes, derived_rels
from neo4j_enterprise_spark.graph.generator import fixture_graph
from neo4j_enterprise_spark.graph.model import PropertyGraph
from neo4j_enterprise_spark.operators import record_checks, traversal
from neo4j_enterprise_spark.plans import all_queries
from neo4j_enterprise_spark.plans import checker as checker_plans
from neo4j_enterprise_spark.sources import snapshot, txlog

from .stats import median, tail
from .verify import check_rows

# The fixed, read-only test tables at sf0.01, beside the package's
# default sf0.1: at sf0.1 the derived graph alone takes 8 s to build and
# connected components 18 s, more than a run may spend (README.md).
SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")

# Eight of the 21 non-iterative bench=True queries, covering each plan
# module: TPC-H scans, joins and (anti-)semi-joins (q1, q5, q21), graph
# reads on the derived graph (degree_by_type, endpoints_not_in_use),
# pattern matching (cypher_with_having), similarity (ann_lsh_top5) and
# text dedup (docs_span_dedup). A cold pass over all 21 takes ~45 s on
# 4 cores, close to what a whole run may take (README.md).
QUERY_MIX = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q21_sole_late_supplier",
    "degree_by_type",
    "endpoints_not_in_use",
    "cypher_with_having",
    "ann_lsh_top5",
    "docs_span_dedup",
)

PAGERANK_ITERATIONS = 2
RANK_DIGITS = 6  # significant digits kept in the committed rank digest
FIXTURE_NODES = 100_000

_CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Op:
    span: str  # span name, also the per-layer metric prefix
    run: Callable[[], object]
    check: Callable[[object], str | None]


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, work_dir: str, expected: dict):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.expected = expected.get(self.name, {})

    def setup(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        """The calls of one pass, in the order they run. The order is fixed:
        in a fresh session the first calls pay the JIT warm-up, and a seeded
        order moved that cost between calls enough to spread the median
        call latency of a sf0.1 query mix over 18 % of its median across
        ten seeds."""
        raise NotImplementedError

    def detail(self, samples: dict[str, list[float]]) -> dict[str, tuple[float, str]]:
        """The workload's own headline figures, printed beside the gated
        metrics: name -> (value, unit)."""
        return {}

    def diagnostics(self) -> None:
        """Traced runs only, after the measured passes: calls that split a
        measured call into parts it runs concurrently."""

    # -- shared helpers -------------------------------------------------

    def run_plan(self, build: Callable[[], object]):
        """Build a DataFrame, then collect it. Traced runs also force the
        physical plan first and keep Catalyst's phase times, so build,
        plan and execute show as separate spans."""
        tr = self.tracer
        with tr.span("build"):
            df = build()
        if tr.enabled:
            with tr.span("plan") as s:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                s.attrs["catalyst_s"] = sum(
                    phases.get(p).get().durationMs() for p in _CATALYST_PHASES if phases.contains(p)
                ) / 1e3
        with tr.span("execute"):
            rows = df.collect()
        return df.columns, rows

    def expect_rows(self, key: str) -> Callable[[object], str | None]:
        return lambda result: check_rows(self.expected[key], *result)

    def load_catalog(self, sf_dir: str) -> None:
        with self.tracer.span("catalog.load"):
            load_all(self.spark, sf_dir)

    def derive_graph(self, sf_dir: str):
        with self.tracer.span("derive.graph"):
            derived_nodes(self.spark, sf_dir).count()
            rels = derived_rels(self.spark, sf_dir)
            rels.count()
        return rels


class QueryMix(Workload):
    name = "query_mix"

    def setup(self) -> None:
        self.queries = all_queries()
        self.load_catalog(SF_DIR)
        self.derive_graph(SF_DIR)

    def ops(self) -> list[Op]:
        def op(q: str) -> Op:
            return Op(
                f"plans.{q}",
                lambda: self.run_plan(lambda: self.queries[q].spark(self.spark, SF_DIR)),
                self.expect_rows(q),
            )

        return [op(q) for q in QUERY_MIX]

    def detail(self, samples):
        lat = [x for q in QUERY_MIX for x in samples.get(f"plans.{q}", [])]
        value, pct, n = tail(lat)
        return {
            "mix_qps": (len(lat) / sum(lat), "1/s"),
            "mix_p50_s": (median(lat), "s"),
            "mix_tail_s": (value, "s"),
            "mix_tail_percentile": (pct, "%"),
            "mix_tail_samples": (n, "count"),
        }


class GraphIterative(Workload):
    name = "graph_iterative"

    def setup(self) -> None:
        self.queries = all_queries()
        self.load_catalog(SF_DIR)
        self.rels = self.derive_graph(SF_DIR)

    def ops(self) -> list[Op]:
        q, sp, rels = self.queries, self.spark, self.rels
        return [
            Op("traversal.bfs", lambda: self.run_plan(lambda: q["bfs_2hop_reach"].spark(sp, SF_DIR)),
               self.expect_rows("bfs_2hop_reach")),
            Op("community.parts_ktruss_bounded",
               lambda: self.run_plan(lambda: q["parts_ktruss_bounded"].spark(sp, SF_DIR)),
               self.expect_rows("parts_ktruss_bounded")),
            Op("traversal.cc", lambda: self.run_plan(lambda: traversal.connected_components(rels)),
               self.check_cc),
            Op("traversal.pagerank",
               lambda: self.run_plan(lambda: traversal.pagerank(rels, iterations=PAGERANK_ITERATIONS)),
               self.check_pagerank),
        ]

    def check_cc(self, result) -> str | None:
        cols, rows = result
        exp = self.expected["cc"]
        n_comp = len({r["component"] for r in rows})
        if n_comp != exp["components"]:
            return f"{n_comp} components != {exp['components']}"
        return check_rows(exp, cols, rows)

    def check_pagerank(self, result) -> str | None:
        cols, rows = result
        exp = self.expected["pagerank"]
        total = sum(r["rank"] for r in rows)
        if abs(total - len(rows)) > 1e-6 * len(rows):
            return f"rank sum {total} is not the node count {len(rows)}"
        return check_rows(exp, cols, rank_rows(rows))

    def detail(self, samples):
        return {"iter_pass_s": (median(samples["pass"]), "s")}


def rank_rows(rows) -> list[tuple]:
    """PageRank rows with ranks rounded to ``RANK_DIGITS`` significant
    digits: the sums behind each rank run in partition order, so the last
    bits differ from run to run."""
    return [(r["node_id"], float(f"{r['rank']:.{RANK_DIGITS - 1}e}")) for r in rows]


class StoreOps(Workload):
    name = "store_ops"

    def setup(self) -> None:
        sp = self.spark
        with self.tracer.span("generator.fixture"):
            self.store = fixture_graph(sp, FIXTURE_NODES, seed=self.seed)
        self.records = sum(df.count() for df in self.store.tables().values())
        self.corrupt = checker_plans.fixture_graph(sp).persist()
        base = txlog.base_graph_from_customers(sp, SF_DIR)
        self.log = txlog.txlog_from_orders(sp, SF_DIR).persist()
        tx_ids = sorted(r[0] for r in self.log.select("tx_id").collect())
        # cut point T: a seeded tx in the middle half of the log
        rng = random.Random(self.seed)
        self.cut_tx = tx_ids[rng.randrange(len(tx_ids) // 4, 3 * len(tx_ids) // 4)]
        self.last_tx = tx_ids[-1]
        self.txs_after_cut = sum(1 for t in tx_ids if t > self.cut_tx)
        self.at_cut = txlog.replay(base, self.log, up_to_tx=self.cut_tx).persist()
        self.records_at_cut = sum(df.count() for df in self.at_cut.tables().values())
        self.pass_no = 0
        self.backup_bytes: dict[str, int] = {}

    def ops(self) -> list[Op]:
        return [
            Op("record_checks.validate", lambda: record_checks.validate(self.store).collect(),
               lambda rows: None if not rows else f"{len(rows)} violations on the clean store"),
            Op("record_checks.validate_fixture",
               lambda: columns_rows(record_checks.validate(self.corrupt)),
               self.expect_rows("fixture_violations")),
            Op("snapshot.full_backup", self.full_backup, lambda _: None),
            Op("txlog.incremental_backup",
               lambda: snapshot.incremental_backup(self.backup_dir, self.log, self.last_tx),
               lambda _: None),
            Op("snapshot.restore", self.restore, self.check_restore),
        ]

    def full_backup(self):
        self.pass_no += 1
        self.backup_dir = os.path.join(self.work_dir, f"backup-{self.pass_no}")
        return snapshot.full_backup(self.at_cut, self.backup_dir, last_tx=self.cut_tx)

    def restore(self) -> PropertyGraph:
        tr = self.tracer
        with tr.wrapping(PropertyGraph, "load", "snapshot.load"), \
                tr.wrapping(snapshot, "replay", "txlog.replay"), \
                tr.wrapping(snapshot, "validate", "record_checks.verify"):
            return snapshot.restore(self.spark, self.backup_dir, verify=True)

    def check_restore(self, restored: PropertyGraph) -> str | None:
        """The restored store must hold the rows of one replay of the whole
        log from the base, compared as multisets (both directions)."""
        self.backup_bytes = {
            "snapshot": du(os.path.join(self.backup_dir, f"v{self.cut_tx}")),
            "txlog": sum(du(os.path.join(self.backup_dir, d))
                         for d in os.listdir(self.backup_dir) if d.startswith("txlog_")),
        }
        tables = restored.tables()
        expected = self.expected["full_replay"]
        if sorted(tables) != sorted(expected):
            return f"restored tables {sorted(tables)} != {sorted(expected)}"
        for name, df in tables.items():  # reads the backup files
            err = check_rows(expected[name], *without_record_ids(name, df.columns, df.collect()))
            if err:
                return f"restored {name}: {err}"
        shutil.rmtree(self.backup_dir)
        return None

    def diagnostics(self) -> None:
        # validate() builds and runs the seven families concurrently, so one
        # job-id range cannot split its time; here the seven are built in
        # one span and then each runs on its own, warm, after validate().
        with self.tracer.span("record_checks.build"):
            families = record_checks.check_families(self.store)
        for family, df in families.items():
            with self.tracer.span(f"record_checks.family.{family}"):
                df.collect()

    def detail(self, samples):
        t = {k: median(samples[k]) for k in (
            "record_checks.validate", "snapshot.full_backup", "txlog.incremental_backup",
            "snapshot.restore") if samples.get(k)}
        out = {}
        if "record_checks.validate" in t:
            out["check_records_per_s"] = (self.records / t["record_checks.validate"], "1/s")
        if "snapshot.full_backup" in t and "txlog.incremental_backup" in t:
            out["backup_s"] = (t["snapshot.full_backup"] + t["txlog.incremental_backup"], "s")
        if "snapshot.restore" in t:
            out["restore_s"] = (t["snapshot.restore"], "s")
        if self.backup_bytes:
            out["backup_bytes_per_record"] = (
                sum(self.backup_bytes.values()) / (self.records_at_cut + self.txs_after_cut), "B")
        return out


# Property record ids, and the chain pointers made of them, depend on how
# the log was batched when it was applied: replay allocates the ids of new
# property records per call, so a store replayed up to T and then past T
# (what restore does) numbers them differently from one replay of the
# whole log. Every other column must match.
RECORD_IDS = {"properties": ("id", "prev_prop", "next_prop"), "nodes": ("next_prop",)}


def without_record_ids(table: str, columns: list[str], rows) -> tuple[list[str], list]:
    keep = [i for i, c in enumerate(columns) if c not in RECORD_IDS.get(table, ())]
    return [columns[i] for i in keep], [[r[i] for i in keep] for r in rows]


def columns_rows(df) -> tuple[list[str], list]:
    return df.columns, df.collect()


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (QueryMix, GraphIterative, StoreOps)
}
