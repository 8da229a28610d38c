#!/usr/bin/env python3
"""Run the benchmark once per seed on each workload and report, for every
end-to-end metric, the median and the inter-quartile spread as a share of
the median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steadiness.py [--first-seed 1]

Ten runs per workload, seeds ``--first-seed`` onwards, for every workload
in BENCHMARK.json. Runs are sequential, one process each, launched with
BENCHMARK.json's own command. Per-run CPU steal is listed as a diagnostic only: no run is
discarded for it. Prints a Markdown table.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, spread  # noqa: E402

RUNS = 10


def run_once(bench: dict, workload: str, seed: int) -> tuple[dict, dict, float]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180, check=True)
    wall = time.perf_counter() - t
    lines = out.stdout.strip().splitlines()
    detail = json.loads(lines[-2].removeprefix("# detail "))
    return json.loads(lines[-1]), detail, wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    print("| workload | metric | median | spread | bound | values |")
    print("|---|---|---|---|---|---|")
    for w in workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        runs = []
        for seed in range(args.first_seed, args.first_seed + RUNS):
            result, detail, wall = run_once(bench, w, seed)
            if not result["correct"]:
                print(f"# {w} seed {seed}: {result['failed']} of {result['attempted']} failed",
                      file=sys.stderr)
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
            runs.append((seed, wall, detail["cpu_steal_s"], result["correct"]))
            print(f"# {w} seed {seed}: wall {wall:.1f} s, steal {detail['cpu_steal_s']:.1f} s, "
                  + ", ".join(f"{m} {values[m][-1]:.4g}" for m in bounds), file=sys.stderr, flush=True)
        for m, xs in values.items():
            print(f"| {w} | {m} | {median(xs):.4g} | {spread(xs):.3f} | {bounds[m]} | "
                  + " ".join(f"{x:.3g}" for x in xs) + " |")
        print(f"| {w} | wall_s / steal_s per run | {median([r[1] for r in runs]):.1f} | | | "
              + " ".join(f"{r[1]:.0f}/{r[2]:.1f}" for r in runs) + " |", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
