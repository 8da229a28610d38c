"""Session sizing: heap and cores follow the host unless the environment
pins them. No Spark session is started here."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from neo4j_enterprise_spark import session

GIB = 2**30


def _host(tmp_path, mem_available_kb: int, cgroup: str | None) -> int:
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemTotal:       16000000 kB\n"
        "MemFree:         1000000 kB\n"
        f"MemAvailable:   {mem_available_kb} kB\n"
    )
    limits = []
    if cgroup is not None:
        limits.append(tmp_path / "memory.max")
        limits[0].write_text(cgroup + "\n")
    return session.available_memory(str(meminfo), [str(p) for p in limits] + ["/nonexistent"])


@pytest.mark.parametrize(
    "mem_kb, cgroup, available",
    [
        (15 * 2**20, None, 15 * GIB),  # no cgroup file
        (15 * 2**20, "max", 15 * GIB),  # cgroup v2, unlimited
        (15 * 2**20, str(2**63 - 4096), 15 * GIB),  # cgroup v1, unlimited
        (15 * 2**20, str(6 * GIB), 6 * GIB),  # the cgroup limit is lower
        (4 * 2**20, str(6 * GIB), 4 * GIB),  # MemAvailable is lower
    ],
)
def test_available_memory_is_the_lower_of_meminfo_and_cgroup(tmp_path, mem_kb, cgroup, available):
    assert _host(tmp_path, mem_kb, cgroup) == available


def test_default_heap_is_half_available_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.driver_heap(15 * GIB) == ("7680m", True)
    assert session.driver_heap(6 * GIB) == ("3072m", True)
    assert session.driver_heap(64 * GIB) == ("16384m", True)


def test_heap_override_wins_and_pretouches_only_when_it_fits(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    assert session.driver_heap(15 * GIB) == ("4g", True)
    assert session.driver_heap(4 * GIB) == ("4g", True)
    assert session.driver_heap(3 * GIB) == ("4g", False)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2048m")
    assert session.driver_heap(3 * GIB) == ("2048m", True)


def test_cores_come_from_env_else_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3, 4})
    assert session.default_cpus() == 5


class _Built(Exception):
    pass


def _options(monkeypatch, **kwargs) -> dict[str, str]:
    """The options get_spark hands to the builder, without starting Spark."""
    captured = {}

    def get_or_create(self):
        captured.update(self._options)
        raise _Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    with pytest.raises(_Built):
        session.get_spark(**kwargs)
    return captured


# What get_spark built under the benchmark's pinned environment before the
# heap and cores were sized from the host.
PINNED_OPTIONS = {
    "spark.app.name": "perfbench",
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    "spark.cleaner.periodicGC.interval": "1min",
    "spark.driver.extraJavaOptions": "-XX:+ExplicitGCInvokesConcurrent -XX:+AlwaysPreTouch -Xms4g",
    "spark.executor.extraJavaOptions": "-XX:+ExplicitGCInvokesConcurrent -XX:+AlwaysPreTouch",
    "spark.sql.files.openCostInBytes": "131072",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "4g",
    "spark.driver.maxResultSize": "8g",
    "spark.master": "local[4]",
}


def test_pinned_benchmark_env_builds_the_same_session(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    for var in ("SPARK_MASTER", "SPARK_GRAFT_MAX_RESULT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session, "available_memory", lambda: 15 * GIB)
    assert _options(monkeypatch, app_name="perfbench") == PINNED_OPTIONS


def test_default_session_is_sized_from_the_host(monkeypatch):
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CPUS", "SPARK_MASTER"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session, "available_memory", lambda: 15 * GIB)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    opts = _options(monkeypatch)
    assert opts["spark.master"] == "local[4]"
    assert opts["spark.sql.shuffle.partitions"] == "4"
    assert opts["spark.driver.memory"] == "7680m"
    assert opts["spark.driver.extraJavaOptions"].endswith("-XX:+AlwaysPreTouch -Xms7680m")
