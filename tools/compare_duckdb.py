#!/usr/bin/env python
"""Spark-vs-DuckDB wall-clock comparison for the oracle-bearing bench
queries: each query is measured in its own FRESH CHILD PROCESS on both
sides (fresh JVM for Spark, fresh DuckDB for the oracle — see
_spark_worker/_oracle_worker for why), warm un-timed first run then a
steal-clean median, printed as a ratio table sorted worst-first plus
the aggregate. This is the measurement loop behind BASELINE.md's
appendix — rerun it after perf work instead of guessing.

Usage: PYTHONPATH=. python tools/compare_duckdb.py [sf_dir] [runs] [name ...]
  runs: steal-clean samples per query per engine (default 5; the sf10
  trend runs use 3 to bound wall-clock — disclosed in BASELINE.md §10).
  name ...: optional subset of bench-query names (attribution re-runs);
  default = every bench query that carries an oracle.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, ".")

from neo4j_enterprise_spark.catalog import TABLES
from neo4j_enterprise_spark.plans import all_queries
from neo4j_enterprise_spark.session import get_spark


def _steal() -> float:
    """Cumulative hypervisor CPU-steal seconds (all vCPUs). This VM's
    host throttles bursts: a 32-thread numpy probe measured individual
    samples stretched 2.1s -> 5.4s with 6 CPU-seconds stolen, and
    back-to-back Spark samples of the same sf1 query spread 1s..40s
    with near-zero JVM GC time — steal, not the engine. Samples taken
    while the hypervisor is stealing measure the neighbor's workload."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return 0.0


RUNS = 5

# Rows whose Spark side pays fixed STREAMING MACHINERY (micro-batch
# trigger loop, checkpoint dir, state store) against a plain batch
# oracle: the ratio is a machinery-vs-batch artifact, volume-
# independent, and must not be read as an engine gap (at sf10 this
# row's 13.8× dominates worst-row optics while being ~1.6 s absolute). Tagged † in the table; the aggregate is also
# reported with these rows excluded.
MACHINERY_ROWS = {
    "events_stream_hourly_rollup": (
        "Structured Streaming availableNow drain vs a batch SQL oracle: "
        "fixed micro-batch/checkpoint cost, volume-independent (~1.6s "
        "at any sf); the batch twin events_hourly_rollup measures the "
        "same aggregation engine-vs-engine"
    ),
}


def median5(fn, pre=None) -> float:
    """Median of RUNS steal-clean samples: a sample during which the
    hypervisor stole >0.5 CPU-seconds is discarded and re-run (up to
    4xRUNS attempts, then the cleanest are kept). Applied identically to
    the Spark and DuckDB side, so neither engine's median carries the
    neighbor-tenant noise — Spark's longer wall times otherwise catch
    proportionally more steal bursts and bias the ratio."""
    samples, dirty, attempts = [], [], 0
    while len(samples) < RUNS and attempts < 4 * RUNS:
        attempts += 1
        if pre is not None:
            pre()  # un-timed per-sample hygiene (ContextCleaner GC)
        st0 = _steal()
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        # a steal burst above ~30% of the sample's wall clock (floor 1
        # CPU-second) measures the neighbor tenant, not this engine
        if _steal() - st0 > max(1.0, 0.3 * dt):
            dirty.append(dt)
            continue
        samples.append(dt)
    if len(samples) < RUNS:  # persistent steal: use what's clean, loudly
        print(
            f"#   WARNING: only {len(samples)} steal-clean samples in {4 * RUNS} tries",
            flush=True,
        )
        samples = samples or dirty  # all-dirty: dirty median beats nothing
    return sorted(samples)[len(samples) // 2]


def _oracle_worker(sf_dir: str, sql: str, runs: int, out_q) -> None:
    """Run one oracle (warm + steal-clean median) inside a CHILD
    process. sf30 lesson: a DuckDB out-of-memory on one heavy oracle
    poisons the whole parent process heap — a fresh in-process
    connection afterwards cannot allocate even 2 KB, and with no
    explicit memory_limit DuckDB (sized to 80% of PHYSICAL RAM, blind
    to the Spark JVM next door) aborts the process outright via
    std::system_error. Process isolation makes every oracle failure a
    clean, disclosed DNF row that cannot contaminate the sweep."""
    try:
        import duckdb as dk

        c = dk.connect()
        c.execute("SET threads TO 32")
        c.execute("SET memory_limit='40GB'")
        for t in TABLES:
            # table-subset scale slices (tools/scale_rung.py) omit
            # tables no measured query reads — register what exists
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                c.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
        c.execute(sql).df()  # warm (parquet metadata, buffers)
        global RUNS
        RUNS = runs
        d = median5(lambda: c.execute(sql).df())
        out_q.put(("ok", d))
    except Exception as exc:  # noqa: BLE001 — the whole point
        out_q.put(("err", repr(exc)))


def _oracle_median(sf_dir: str, sql: str, runs: int):
    """(status, median_s | err_str) for one oracle, subprocess-isolated."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    out_q = ctx.Queue()
    p = ctx.Process(target=_oracle_worker, args=(sf_dir, sql, runs, out_q))
    p.start()
    p.join(3600)
    if p.is_alive():
        p.terminate()
        p.join()
        return ("err", "oracle timeout (1h)")
    # Queue.empty() is unreliable right after child exit (the feeder
    # thread may still be flushing) — a blocking get with a grace
    # timeout is the only reliable read.
    import queue as _queue

    try:
        return out_q.get(timeout=10)
    except _queue.Empty:
        return ("err", f"oracle subprocess died (exitcode {p.exitcode})")


def _spark_worker(sf_dir: str, name: str, runs: int, out_q) -> None:
    """Measure one Spark query inside a CHILD process — a fresh JVM.

    Within one long compare session the Spark side drifts
    badly even with per-query clearCache/unpersist/System.gc hygiene —
    events_sliding_rollup measured 6.11 s late in a 2 h sf30 sweep and
    1.36 s in a fresh session minutes later on the same head and data
    (a grown-heap page-fault storm; the JVM's RSS had reached ~70 GB). `spark.stop()` cannot fix it — a new
    getOrCreate reuses the same JVM and its heap. Process isolation is
    the only real reset, and it makes the two sides methodologically
    SYMMETRIC: every oracle already ran in a fresh child (OOM
    isolation); now every Spark measurement does too. Cost: one JVM
    startup (~10 s, un-timed) per query — noise against a multi-hour
    sweep. Full materialization via each engine's NATIVE columnar path
    (Spark toPandas() Arrow batches vs DuckDB .df() C-native, so both
    sides pay comparable transfer) is unchanged, as is the warm un-timed
    first run and the steal-clean median.
    """
    try:
        global RUNS
        RUNS = runs
        spark = get_spark("compare")
        q = all_queries()[name]
        warm = q.spark(spark, sf_dir).toPandas()  # warm codegen + IO
        jgc = spark.sparkContext._jvm.System.gc
        s = median5(lambda: q.spark(spark, sf_dir).toPandas(), pre=jgc)
        se = None
        if len(warm) > 1_000_000:
            # transfer-heavy row (degree_by_type's time was mostly
            # transfer): ALSO report engine-only time — COUNT lets both
            # engines prune the payload symmetrically
            se = median5(lambda: q.spark(spark, sf_dir).count(), pre=jgc)
        out_q.put(("ok", (s, len(warm), se)))
    except Exception as exc:  # noqa: BLE001 — disclosed, like the oracle side
        out_q.put(("err", repr(exc)))


def _spark_median(sf_dir: str, name: str, runs: int):
    """(status, (median_s, payload_rows, engine_only_s) | err_str),
    subprocess-isolated — the Spark twin of ``_oracle_median``."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    out_q = ctx.Queue()
    p = ctx.Process(target=_spark_worker, args=(sf_dir, name, runs, out_q))
    p.start()
    p.join(3600)
    if p.is_alive():
        p.terminate()
        p.join()
        return ("err", "spark timeout (1h)")
    import queue as _queue

    try:
        return out_q.get(timeout=10)
    except _queue.Empty:
        return ("err", f"spark subprocess died (exitcode {p.exitcode})")


def main() -> None:
    global RUNS
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    if len(sys.argv) > 2:
        RUNS = int(sys.argv[2])
    qs = {n: q for n, q in all_queries().items() if q.bench and q.oracle}
    if len(sys.argv) > 3:
        subset = set(sys.argv[3:])
        unknown = subset - set(qs)
        if unknown:
            raise SystemExit(f"not bench+oracle queries: {sorted(unknown)}")
        qs = {n: q for n, q in qs.items() if n in subset}
    rows = []
    dnf = []  # (name, spark_s, err): oracle failed — disclosed, not ratioed
    for n, q in sorted(qs.items()):
        sstatus, sres = _spark_median(sf_dir, n, RUNS)
        if sstatus != "ok":
            print(f"# {n}: spark DNF ({sres})", flush=True)
            dnf.append((n, float("nan"), f"spark failed: {sres}"))
            continue
        s, payload_rows, se = sres
        status, d = _oracle_median(sf_dir, q.oracle, RUNS)
        if status != "ok":  # oracle DNF (e.g. span-dedup OOMs at sf30
            # while Spark spills and completes) — record the Spark
            # time, exclude the row from ratio totals, disclose loudly
            print(f"# {n}: spark {s:.2f}s duckdb DNF ({d})", flush=True)
            dnf.append((n, s, str(d)))
            continue
        rows.append((n, s, d))
        extra = ""
        if se is not None:
            st2, de = _oracle_median(
                sf_dir, f"SELECT COUNT(*) FROM ({q.oracle})", RUNS
            )
            extra = (
                f" [engine-only: spark {se:.2f}s duckdb "
                f"{de if st2 != 'ok' else f'{de:.3f}s'}"
                f" over {payload_rows} payload rows]"
            )
        print(f"# {n}: spark {s:.2f}s duckdb {d:.3f}s{extra}", flush=True)
    rows.sort(key=lambda r: -(r[1] / max(r[2], 1e-9)))
    for n, s, d in rows:
        tag = " †" if n in MACHINERY_ROWS else ""
        print(f"| {n} | {s:.2f} | {d:.3f} | {s / max(d, 1e-9):.1f}×{tag} |")
    ts, td = sum(r[1] for r in rows), sum(r[2] for r in rows)
    print(f"TOTAL spark={ts:.2f}s duckdb={td:.2f}s ratio={ts / td:.2f}x")
    core = [r for r in rows if r[0] not in MACHINERY_ROWS]
    if len(core) != len(rows):
        tsc, tdc = sum(r[1] for r in core), sum(r[2] for r in core)
        print(
            f"TOTAL(batch-comparable) spark={tsc:.2f}s duckdb={tdc:.2f}s "
            f"ratio={tsc / tdc:.2f}x"
        )
        for n in sorted(MACHINERY_ROWS):
            if any(r[0] == n for r in rows):
                print(f"# † {n}: {MACHINERY_ROWS[n]}")
    for n, s, err in dnf:
        print(f"| {n} | {s:.2f} | DNF | — | {err[:80]} |")


if __name__ == "__main__":
    main()
