"""SparkSession factory.

Defaults are tuned for the test rig (local[N], single JVM) but every knob is
chosen to also be the right call on a large cluster:

- AQE on: runtime partition coalescing, skew-join splitting, and dynamic
  join-strategy switching are exactly what keeps a 100 TB shuffle healthy.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE's coalescing makes the initial number far less critical.
- Sized from the host: the driver heap defaults to half the memory this
  process may use (``MemAvailable``, or the cgroup limit when lower),
  capped at 16g; local cores default to the cores it may run on (nproc).
  ``SPARK_GRAFT_DRIVER_MEM`` / ``SPARK_GRAFT_CPUS`` override either.
- Arrow enabled: every Pandas-UDF path in this engine is Arrow-batched.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle bit-for-bit.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_HEAP_CAP = 16 * 2**30
_MEMINFO = "/proc/meminfo"
# cgroup v2, then v1; an unlimited group reads "max" or a near-2**63 figure
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def available_memory(meminfo: str = _MEMINFO, cgroup_limits=_CGROUP_LIMITS) -> int:
    """Bytes this process may use: ``MemAvailable``, or the cgroup memory
    limit when that is lower."""
    with open(meminfo) as f:
        avail = next(
            int(line.split()[1]) * 1024 for line in f if line.startswith("MemAvailable:")
        )
    for path in cgroup_limits:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            avail = min(avail, int(limit))
    return avail


def _size_bytes(size: str) -> int:
    """A JVM size ("4g", "512m", "1048576") in bytes."""
    size = size.strip().lower()
    return int(size[:-1]) * _UNITS[size[-1]] if size[-1] in _UNITS else int(size)


def driver_heap(available: int) -> tuple[str, bool]:
    """``(heap, pretouch)``: ``SPARK_GRAFT_DRIVER_MEM`` when set, else half
    of ``available`` bytes capped at 16g; pretouch only when the heap fits
    in ``available``."""
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{min(available // 2, _HEAP_CAP) // 2**20}m"
    )
    return heap, _size_bytes(heap) <= available


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "neo4j-enterprise-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` only matters in local mode; on a cluster the master URL comes
    from the environment and this builder leaves it untouched.
    """
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    heap, pretouch = driver_heap(available_memory())
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Measured on q18: the 64m default advisory size
        # makes AQE coalescing unstable on multi-join plans — q18 swings
        # 1.0-3.6s run-to-run at sf0.1; at 128m it is a stable ~0.85s.
        # 128m is also the right post-shuffle partition size for large
        # clusters (fewer, fuller reducers; less scheduling overhead).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
        # Join strategy note: the STATIC broadcast threshold stays at its
        # default. We A/B-tested disabling it (-1 + AQE runtime sizing,
        # 16m): that fixes the fact-broadcast mis-estimates adaptively
        # but makes every correctly-static-broadcast join pay the big
        # side's map shuffle first (q4 0.58s -> 1.19s at sf1) — net
        # worse at both scales. Instead the three joins where the
        # pruned-size estimate lies (q10/q18/q21 orderkey joins against
        # the full orders scan) carry explicit shuffle_hash hints.
        # ContextCleaner is weak-reference driven: on a large heap the
        # JVM may not GC for minutes, so shuffle files, broadcast blocks
        # and map-output state from finished jobs pile up — measured at
        # sf1: repeated heavy aggregations degrade 2s -> 45s -> 159s
        # until a System.gc() restores 2s. The default periodic-GC
        # interval (30min) is far too lazy for shuffle-heavy iterative
        # workloads; 1min keeps cleanup flowing at negligible cost
        # (~0.1s per GC on a 48g heap) and is just as appropriate on
        # long-running cluster drivers.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # ...but a periodic System.gc() on a 48g heap is a stop-the-world
        # FULL GC by default, and when it lands mid-query it stalls the
        # whole local[N] JVM: measured on q18 at sf1, 15 back-to-back runs
        # spread 1.1s..41.5s (p90 37s!). ExplicitGCInvokesConcurrent turns
        # System.gc() into a concurrent G1 cycle — reference processing
        # (which ContextCleaner needs) still happens at remark, without
        # the pause. On a cluster this belongs on the driver AND
        # executors (both run ContextCleaner-triggered System.gc()).
        #
        # -Xms + AlwaysPreTouch: the definitive fix for this rig's
        # bimodal query times (identical back-to-back sf1 samples spread
        # 0.9s..50s). Root cause, established by /proc instrumentation:
        # MINOR-PAGE-FAULT STORMS on heap pages — slow samples took
        # 0.5-1.8 MILLION minor faults and 100-600 CPU-seconds of
        # KERNEL time (page zeroing is pathologically slow in this
        # guest), while fast samples of the same query took ~30k faults.
        # Without Xms, every GC shrinks the committed heap to ~6g
        # (measured) and the next scan re-commits 10-40g; even with Xms
        # pinned, G1's eden rotates across the 48g space and first-
        # touches fresh pages mid-query. AlwaysPreTouch faults the whole
        # heap in ONCE at JVM start (un-timed), after which 12/12 probe
        # samples ran 0.84-1.35s with sys+0.0s. The earlier per-round
        # theories (ContextCleaner lag, full-GC pauses, hypervisor
        # steal) were each partial views of this one pathology. On a
        # real cluster Xms=Xmx + AlwaysPreTouch on executors is the
        # standard production setting for exactly this reason.
        #
        # The default heap is capped at 16g with the pretouch: zeroing
        # runs ~1 GB/s in this guest and NONLINEARLY worse above ~16g
        # (measured startup: 16g=23s, 24g=72s, 48g>180s), and the
        # steady-state live set is ~2-6g (GC on pretouched pages is
        # cheap). Below the cap it is half the memory available, so a
        # small host still starts the JVM; a heap that does not fit in
        # available memory (an override) is neither pinned nor
        # pretouched, since faulting it all in would exhaust the host.
        # Big one-off runs (tools/b1_scale.py 10M) set
        # SPARK_GRAFT_DRIVER_MEM=48g and pay the longer pretouch once.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+ExplicitGCInvokesConcurrent"
            + (" -XX:+AlwaysPreTouch -Xms" + heap if pretouch else ""),
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+ExplicitGCInvokesConcurrent -XX:+AlwaysPreTouch",
        )
        # Read-split sizing (r8): the default openCostInBytes (4 MB)
        # packs a small well-compressed parquet into 1-2 read tasks —
        # the sf10 documents fixture is 4.5 MB on disk but 149 M chars
        # decompressed, so every corpus-scan operator ran 1-2-way
        # parallel while DuckDB used all row groups (measured: the
        # whole scan-op family 10-15x slower for no plan reason).
        # 128 KB is the honest open cost on local NVMe; on object
        # stores keep the default or raise it — split sizing is a
        # per-deployment knob (SCALE §1). maxPartitionBytes stays
        # default (128 MB): splits remain row-group-bounded.
        .config("spark.sql.files.openCostInBytes", "131072")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", heap)
        # the 1g default aborts any multi-10M-row collect/toPandas (the
        # sf30 degree_by_type materialization is ~1.5 GiB of Arrow
        # batches) — size it to the analysis rig's driver heap. On a
        # cluster this stays a guardrail against accidental full-table
        # collects; analytical result pulls of this size should go
        # through a parquet sink instead (sources/sink.py).
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"),
        )
    )
    if "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The defaults follow the host, so state what this session got: an
    # OOM or a slow run is then attributable to its sizing.
    print(
        f"# spark-graft session: driver heap {heap}"
        + ("" if pretouch else " (not pretouched)")
        + f", {cpus} cores, {shuffle_partitions} shuffle partitions"
        " (override with SPARK_GRAFT_DRIVER_MEM / SPARK_GRAFT_CPUS)",
        file=sys.stderr,
    )
    return spark
