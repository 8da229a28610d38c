#!/usr/bin/env python
"""Benchmark harness: runs the headline declared queries and prints ONE
JSON line (the driver contract, and nothing else on stdout):

    {"metric": "headline_queries_wall_clock", "value": <total_sec>,
     "unit": "sec", "queries": {name: sec}, "sf": <sf>}

The per-phase detail (elementCount, time, recordsPerSecond per query,
mirroring the reference harness's JSON report schema,
`enterprise-performance-tests/.../JsonReportWriter.java:106-131`,
`TimingProgress.java:31-100`) is written to ``bench_report.json``
(override with ``$SPARK_GRAFT_BENCH_OUT``). The stdout line is the
compact contract schema only, so any tail-bounded, last-line, or
whole-stdout parser reads it: with the phases block inlined it ran past
a 2000-char stdout tail.

Scale dir from ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
cores from ``$SPARK_GRAFT_CPUS`` (default: the host's, see session.py).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from neo4j_enterprise_spark.plans import all_queries
from neo4j_enterprise_spark.session import get_spark


def _steal() -> float:
    """Cumulative hypervisor CPU-steal seconds across all vCPUs. This
    rig is a guest VM whose host throttles CPU bursts: a 32-thread numpy
    probe measured samples stretched 2.1s -> 5.4s with 6 CPU-seconds
    stolen, and identical back-to-back Spark samples spread 1s..40s with
    near-zero JVM GC time. A timed sample that overlaps a steal burst
    measures the neighbor tenant, not this engine — the sampling loops
    below discard such samples and re-run."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return 0.0


def contract_line(report: dict) -> str:
    """The single stdout line the driver parses: exactly the documented
    contract keys, no phase detail, so the line stays well inside a
    2000-char stdout tail (r13 hardening — see module docstring)."""
    compact = {k: report[k] for k in ("metric", "value", "unit", "queries", "sf")}
    return json.dumps(compact)


def _timed_phase(spark, name, build, sf_dir, warm_s):
    """Median-of-5 timed runs of one query (1 run when the warmup pass
    says the phase is long/throughput-bound): a single sample conflates
    the query's steady-state cost with one-off AQE/GC/scheduler jitter
    (measured at 3-4x on this rig — see BASELINE.md appendix); the
    median is the honest steady-state number the reference's
    TimingProgress also reports after its warmup. Long phases aren't
    jitter-dominated; one run is representative — classified by the
    WARMUP duration, not the first timed sample (a one-off GC/AQE spike
    on sample 1 must not suppress the re-sampling that would absorb
    it). Samples overlapping a hypervisor CPU-steal burst are discarded
    and re-run — see _steal(). Returns (phase dict, sorted samples)."""
    runs = 1 if warm_s > 5.0 else 5
    samples = []
    n = 0
    attempts = 0
    polluted = 0  # steal-overlapped samples kept after budget exhaustion
    steal_kept = 0.0  # stolen CPU-seconds inside the KEPT samples
    while len(samples) < runs and attempts < 4 * runs:
        attempts += 1
        # drive ContextCleaner before the timer starts: weak-ref
        # cleanup of prior runs' shuffle/broadcast state otherwise
        # lags on a large heap and reads as query-time regression
        # (measured 2s->45s->159s at sf1 without this)
        spark.sparkContext._jvm.System.gc()
        st0 = _steal()
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        n = len(df.collect())  # full materialization
        dt_s = time.perf_counter() - t0
        st = _steal() - st0
        # steal above ~30% of the sample's wall clock (floor 1
        # CPU-second) measures the neighbor tenant — retry while
        # the attempt budget still allows reaching `runs` samples
        if st > max(1.0, 0.3 * dt_s):
            if len(samples) + (4 * runs - attempts) >= runs:
                continue
            # budget exhausted: the polluted sample is kept, but the
            # artifact must say so (an unflagged polluted sample once
            # showed as a 4x jump)
            polluted += 1
            steal_kept += st
        samples.append(dt_s)
    samples.sort()
    dt = samples[len(samples) // 2]
    phase = {
        "name": name,
        "elementCount": n,
        "time": round(dt * 1000),  # ms, like the reference
        "recordsPerSecond": round(n / dt) if dt > 0 else 0,
    }
    if polluted:
        phase["pollutedSamples"] = polluted
        phase["cpuStealSeconds"] = round(steal_kept, 2)
        print(
            f"# WARNING {name}: {polluted} steal-polluted sample(s) "
            f"kept ({steal_kept:.1f} stolen CPU-s) — timing unreliable",
            file=sys.stderr,
        )
    return phase, samples


# the orderkey-bucketed at-rest layout: bucket/sort column and
# registered table name per fact table
_BUCKET_SPEC = {
    "lineitem": ("l_orderkey", "bkt_lineitem"),
    "orders": ("o_orderkey", "bkt_orders"),
}


def _bucketed_block(spark, sf_dir, queries):
    """SPARK_GRAFT_BUCKETED=1 opt-in: derive orderkey-bucketed
    lineitem/orders ONCE (un-timed, disclosed via deriveSeconds) and
    re-run the TPC-H bench family against the bucketed layout. The
    headline ``value``/``queries`` stay flat-layout (comparable
    round-over-round); this block rides alongside, the same way a
    production deployment would pay the bucketing once at ingest and
    every orderkey join/agg thereafter skips its fact exchange
    (`MultiPassStore.java:40-120`'s id-windowed design intent). Returns
    None when the mode is off."""
    if os.environ.get("SPARK_GRAFT_BUCKETED") != "1":
        return None
    import shutil

    from neo4j_enterprise_spark import catalog as _catalog
    from neo4j_enterprise_spark.plans import relational as _rel
    from neo4j_enterprise_spark.sources import sink

    tpch = {n: q for n, q in queries.items() if re.match(r"q\d+_", n)}
    t0 = time.perf_counter()
    for src, (col, tbl) in _BUCKET_SPEC.items():
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"spark-warehouse/{tbl}", ignore_errors=True)
        sink.write_bucketed(
            _catalog.load_table(spark, sf_dir, src),
            tbl, [col], n_buckets=64, sort_cols=[col],
        )
    derive_s = time.perf_counter() - t0
    print(f"# bucketed layout derived in {derive_s:.1f}s (un-timed)", file=sys.stderr)

    flat_load = _catalog.load_table

    def _bucketed_load(spark_, sf_dir_, name):
        if name in _BUCKET_SPEC:
            return spark_.table(_BUCKET_SPEC[name][1])
        return flat_load(spark_, sf_dir_, name)

    # the plan modules bind load_table at import time — patch there
    _rel.load_table = _bucketed_load
    try:
        warm = {}
        for name, q in sorted(tpch.items()):
            t0 = time.perf_counter()
            len(q.spark(spark, sf_dir).collect())
            warm[name] = time.perf_counter() - t0
        b_timings, b_phases = {}, []
        for name, q in sorted(tpch.items()):
            phase, samples = _timed_phase(
                spark, f"{name}[bucketed]", q.spark, sf_dir, warm[name]
            )
            b_timings[name] = round(phase["time"] / 1000.0, 3)
            b_phases.append(phase)
            print(
                f"# {name}[bucketed]: {phase['elementCount']} rows in "
                f"{b_timings[name]}s "
                f"(samples: {[round(s, 3) for s in samples]})",
                file=sys.stderr,
            )
    finally:
        _rel.load_table = flat_load
    return {
        "note": (
            "TPC-H family re-run on orderkey-bucketed lineitem/orders "
            "(64 buckets, bucket-sorted, one file per bucket), derived "
            "once un-timed; headline value/queries remain flat-layout"
        ),
        "deriveSeconds": round(derive_s, 1),
        "queries": b_timings,
        "phases": b_phases,
    }


def main() -> None:
    t_start = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")

    # JVM/codegen/parquet-footer warmup, outside the timed loop (standard
    # benchmarking practice; steady-state is what BASELINE compares)
    from neo4j_enterprise_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    from neo4j_enterprise_spark.graph.derive import derived_nodes, derived_rels

    derived_nodes(spark, sf_dir).count()  # materialize the memoized graph
    derived_rels(spark, sf_dir).count()

    queries = {n: q for n, q in all_queries().items() if q.bench}
    # B1 is reported as per-store phases (the reference's 9 scan tasks,
    # one recordsPerSecond per record type) instead of one opaque blob —
    # timed separately below, so drop the single-query entry here.
    b1_split = queries.pop("graph_validation_suite_100k", None) is not None

    # One un-timed pass over every headline query first: JIT-compiles the
    # whole-stage-codegen classes and loads shuffle/join code paths so the
    # timed pass below measures steady-state throughput (what the
    # reference's TimingProgress reports after its own store warmup), not
    # first-iteration JVM compilation, which dominates on a fresh JVM and
    # varies 3-4x with machine load.
    warm: dict[str, float] = {}
    for name, q in sorted(queries.items()):
        t0 = time.perf_counter()
        # collect(), not count(): under count() Catalyst prunes every
        # column the final action doesn't need — for agg-heavy queries
        # (q1!) that optimizes away the aggregate expressions themselves,
        # so the timed number measured a hollowed-out plan. collect()
        # forces the full declared result (r5 fix; the r1-r4 BENCH series
        # used count() and under-reports exactly those queries).
        len(q.spark(spark, sf_dir).collect())
        warm[name] = time.perf_counter() - t0

    timings: dict[str, float] = {}
    phases = []
    for name, q in sorted(queries.items()):
        phase, samples = _timed_phase(spark, name, q.spark, sf_dir, warm[name])
        timings[name] = round(phase["time"] / 1000.0, 3)
        phases.append(phase)
        print(
            f"# {name}: {phase['elementCount']} rows in {timings[name]}s "
            f"(samples: {[round(s, 3) for s in samples]})",
            file=sys.stderr,
        )

    bucketed_block = _bucketed_block(spark, sf_dir, queries)

    if b1_split:
        # B1 per-store phases: mirror FullCheck's sequential store scans.
        # elementCount = records of the family's primary store (the
        # reference's recordsPerSecond denominator), not violation rows.
        # The 100k fixture is built HERE, un-timed, like the reference
        # (store generation is separate from the timed FullCheck —
        # `ConsistencyPerformanceCheck.java:76-140`) — and AFTER the
        # headline loop, so its ~800k cached records never pressure the
        # headline measurements.
        from neo4j_enterprise_spark.graph.generator import fixture_graph
        from neo4j_enterprise_spark.operators import record_checks as rc

        g = fixture_graph(spark, node_count=100_000)
        counts = rc.family_element_counts(g)
        # warmup pass (plans JIT-compiled once, like the query warmup)
        for df in rc.check_families(g).values():
            df.count()
        b1_total = 0.0
        for fam, df in rc.check_families(g).items():
            # median-of-3: the small-store checks (dictionaries,
            # graph_props) are all fixed plan overhead, where a single
            # GC pause reads as a 6x phase regression
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                df.count()
                samples.append(time.perf_counter() - t0)
                if samples[0] > 5.0:
                    break
            dt = sorted(samples)[len(samples) // 2]
            b1_total += dt
            n_rec = counts[fam]
            phases.append(
                {
                    "name": f"b1_check_{fam}",
                    "elementCount": n_rec,
                    "time": round(dt * 1000),
                    "recordsPerSecond": round(n_rec / dt) if dt > 0 else 0,
                }
            )
            print(f"# b1_check_{fam}: {n_rec} records in {round(dt, 3)}s", file=sys.stderr)
        timings["graph_validation_suite_100k"] = round(b1_total, 3)

    # Reference-canonical B1 run: the 10M-node / 30M-rel / 40M-prop
    # store (ConsistencyPerformanceCheck.java:76-87) checked in ONE cold
    # pass — the volume-dominated number where the per-query JVM floor
    # amortizes away (BASELINE.md §7). Generation is un-timed (the
    # reference also builds the store outside the timed FullCheck).
    # Clearly labeled as a single cold pass: no warmup, no median.
    # SPARK_GRAFT_B1_CANONICAL=0 skips; a custom node count can be set
    # (e.g. 1000000 for a quick rig check). Failure or timeout of this
    # extra phase must never invalidate the headline artifact — hence
    # the broad try/except.
    # default 2M nodes (~32M records): volume-dominated enough that the
    # per-phase JVM floor is noise, yet gen+check fit the bench budget
    # alongside the headline loop even at the slow tail of generation
    # variance (fixture build measured 93-306s at 4M — too wide for the
    # harness budget, hence 2M default). The full 10M reference-
    # canonical run rides tools/b1_scale.py and BASELINE.md §6-7 (set
    # SPARK_GRAFT_B1_CANONICAL=10000000 to run it here).
    b1c = os.environ.get("SPARK_GRAFT_B1_CANONICAL", "2000000")
    canonical = None
    if time.perf_counter() - t_start > 300:
        # headline+B1 ran unusually slow (loaded machine): skip the
        # canonical extra rather than risk the harness budget
        print("# b1_canonical skipped: bench already past 300s", file=sys.stderr)
        b1c = "0"
    if b1_split and b1c != "0":
        try:
            from neo4j_enterprise_spark.graph.generator import fixture_graph
            from neo4j_enterprise_spark.operators import record_checks as rc

            n_nodes = int(b1c)
            t0 = time.perf_counter()
            gc = fixture_graph(spark, node_count=n_nodes)
            c_counts = rc.family_element_counts(gc)
            gen_s = time.perf_counter() - t0
            n_rec = sum(c_counts.values())
            print(
                f"# b1_canonical fixture: {n_nodes} nodes, {n_rec} records,"
                f" built in {gen_s:.1f}s (un-timed)",
                file=sys.stderr,
            )
            st0 = _steal()
            t0 = time.perf_counter()
            for df in rc.check_families(gc).values():
                df.count()
            dt = time.perf_counter() - t0
            stolen = round(_steal() - st0, 1)
            # kept OUT of ``timings``/``phases`` so the headline
            # ``value`` and total stay comparable round-over-round; the
            # canonical number rides as its own clearly-labeled block
            canonical = {
                "name": f"b1_canonical_{n_nodes // 1_000_000}m_cold",
                "elementCount": n_rec,
                "time": round(dt * 1000),
                "recordsPerSecond": round(n_rec / dt) if dt > 0 else 0,
                "note": "single cold pass, generation un-timed",
                # single cold pass can't discard-and-retry like the
                # headline loop; expose how much of the wall clock the
                # hypervisor stole so a polluted number is visibly so
                "cpuStealSeconds": stolen,
            }
            print(
                f"# b1_canonical: {n_rec} records in {round(dt, 1)}s "
                f"= {round(n_rec / dt)}/s (single cold pass)",
                file=sys.stderr,
            )
        except Exception as exc:  # canonical run is best-effort extra
            print(f"# b1_canonical skipped: {exc!r}", file=sys.stderr)

    total_sec = round(sum(timings.values()), 3)
    total_rows = sum(p["elementCount"] for p in phases)
    total_polluted = sum(p.get("pollutedSamples", 0) for p in phases)
    report = {
        "metric": "headline_queries_wall_clock",
        "value": total_sec,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "phases": phases,
        "total": {
            "elementCount": total_rows,
            "time": round(total_sec * 1000),
            "recordsPerSecond": round(total_rows / total_sec) if total_sec else 0,
            # >0 means some phase medians include steal-polluted
            # samples (see per-phase pollutedSamples) — compare
            # this artifact round-over-round with caution
            "pollutedSamples": total_polluted,
        },
        **({"b1_canonical": canonical} if canonical else {}),
        **({"bucketed": bucketed_block} if bucketed_block else {}),
    }
    # The driver's BENCH_r{N}.json keeps only a 2000-char stdout tail
    # (BENCH_r09 recorded parsed:null), so the one-line JSON alone is
    # truncation-lossy — ALSO write the complete reference-schema report
    # (`JsonReportWriter.java:60-131` shape) to a committed file so the
    # per-phase table survives independent of the driver artifact.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "bench_report.json")
    try:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=2)
            f.write("\n")
    except OSError as exc:
        print(f"# bench_report write failed: {exc!r}", file=sys.stderr)
    # contract hardening: one bench run was lost to a parse failure,
    # erasing a whole round of comparability. The stdout
    # line is now the COMPACT contract schema only (metric/value/unit/
    # queries/sf — exactly the documented one-line contract; ~1 KB), so
    # it survives a 2000-char tail truncation AND stays a single JSON
    # document for a whole-stdout parser (two concatenated documents —
    # the "print it twice" option — would break json.loads). The bulky
    # phases/total blocks stay in the committed bench_report.json above,
    # unchanged in shape since r9.
    print(contract_line(report))
    spark.stop()


if __name__ == "__main__":
    main()
