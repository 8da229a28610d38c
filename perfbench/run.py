#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    env SPARK_GRAFT_DRIVER_MEM=4g SPARK_GRAFT_CPUS=4 python3 perfbench/run.py \\
        --workload query_mix --seed 1 --seconds 1 --trace 0

One process, one client thread, closed loop: each timed call starts when
the previous one has returned and its result has been checked. The loop
runs whole passes over the workload's calls until ``--seconds`` have
passed. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records
a span per call into the engine and prints the per-layer metrics, and
writes every span to ``.perfbench/trace-<workload>-<run id>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(ROOT, "perfbench", "expected.json")

# Pinned through the command in BENCHMARK.json, so that a change to the
# package's own session sizing cannot change what is measured.
PINNED_ENV = ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CPUS")

# Kept for the whole run so every span's jobs can be looked up at the end;
# set the same way traced and untraced, so the two runs differ only in
# tracing.
SESSION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

E2E_UNITS = {"setup_s": "s", "pass_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_steal_s() -> float:
    """Host CPU time stolen by the hypervisor so far (all CPUs), seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def start_session(work_dir: str):
    missing = [k for k in PINNED_ENV if not os.environ.get(k)]
    if missing:
        raise SystemExit(f"set {', '.join(missing)} (see BENCHMARK.json's command)")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # Python UDF workers import the engine by name, so they need the root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from neo4j_enterprise_spark.session import get_spark

    return get_spark("perfbench", extra_conf=SESSION_CONF)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, tracer, seconds: float):
    """Whole passes until ``seconds`` have passed. Returns per-span timings
    of the calls that succeeded, per-pass timed totals, attempted, failed."""
    samples: dict[str, list[float]] = defaultdict(list)
    passes: list[float] = []
    attempted = failed = 0
    ops = wl.ops()
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        in_pass = 0.0
        for op in ops:
            attempted += 1
            with tracer.span(op.span, measured=True, pass_no=len(passes)):
                t = time.perf_counter()
                try:
                    result, err = op.run(), None
                except Exception as ex:  # a failed call is counted, not fatal
                    result, err = None, f"{type(ex).__name__}: {ex}"
                took = time.perf_counter() - t
            in_pass += took
            if err is None:
                try:
                    err = op.check(result)
                except Exception as ex:
                    err = f"check raised {type(ex).__name__}: {ex}"
            if err is None:
                samples[op.span].append(took)
            else:
                failed += 1
                print(f"# FAILED {op.span}: {err}", file=sys.stderr, flush=True)
        passes.append(in_pass)
    samples["pass"] = passes
    return samples, attempted, failed


def e2e_metrics(setup_s: float, samples: dict[str, list[float]]) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "pass_s": median(samples["pass"]),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work_dir = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    steal0 = cpu_steal_s()
    try:
        from perfbench import layers
        from perfbench.tracing import NullTracer, Tracer
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        with open(EXPECTED) as f:
            expected = json.load(f)

        t_session = time.perf_counter()
        spark = start_session(work_dir)
        try:
            tracer = Tracer(spark) if args.trace else NullTracer()
            if args.trace:
                tracer.add("session.start", t_session, time.perf_counter())
            wl = WORKLOADS[args.workload](spark, tracer, args.seed, work_dir, expected)
            wl.setup()
            setup_s = time.perf_counter() - T0
            samples, attempted, failed = measure(wl, tracer, args.seconds)
            if len(samples) == 1:
                raise SystemExit("every timed call failed")
            metrics = e2e_metrics(setup_s, samples)
            detail = wl.detail(samples)
            if args.trace:
                wl.diagnostics()
                counts = tracer.spark_counts()
                metrics = layers.per_layer(tracer.spans, counts, wl, metrics)
                tracer.write(
                    os.path.join(OUT_DIR, f"trace-{args.workload}-{tracer.run_id}.json"),
                    counts,
                    metrics,
                )
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    units = E2E_UNITS if not args.trace else layers.UNITS
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "error_rate": failed / attempted,
        "passes": len(samples["pass"]),
        "cpu_steal_s": cpu_steal_s() - steal0,
        **{k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
    }
    if args.trace:
        info["run_id"] = tracer.run_id
    print("# detail " + json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
