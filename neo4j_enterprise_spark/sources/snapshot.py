"""Backup & restore: snapshot export, incremental tx export, verified
restore.

Reference surface (SURVEY.md §3.4):
- Full backup = stream every store file (`Master.copyStore`,
  `MasterImpl.java:487-492`, `BackupService.doFullBackup:85-180`)
  → per-table parquet snapshot export.
- Incremental = tx replay from the target's last committed tx
  (`BackupService.doIncrementalBackup:246-420`) → export txlog rows past
  the snapshot's high-water tx and replay them.
- Verified restore = run the consistency check on the result
  (`BackupService` full-check option; R6 `VerificationLevel.java:33-77`).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.model import PropertyGraph
from ..operators.record_checks import validate
from .txlog import export_range, replay, verify_checksums

_META = "backup_meta.json"


def full_backup(graph: PropertyGraph, backup_dir: str, last_tx: int = 0) -> str:
    """S8: full snapshot export + metadata (the StoreId/last-tx pair the
    reference uses to gate incrementals, `U3`)."""
    vdir = graph.save(backup_dir, version=last_tx)
    with open(os.path.join(backup_dir, _META), "w") as f:
        json.dump({"last_tx": last_tx}, f)
    return vdir


def incremental_backup(
    backup_dir: str, txlog: DataFrame, up_to_tx: int
) -> DataFrame:
    """S9: export the tx range past the backup's high-water mark into the
    backup dir; returns the exported slice (checksum-verified first,
    mirroring `TxChecksumVerifier` on the receive path)."""
    with open(os.path.join(backup_dir, _META)) as f:
        meta = json.load(f)
    start = meta["last_tx"] + 1
    bad = verify_checksums(txlog)
    if bad.limit(1).count() > 0:
        raise ValueError("tx stream failed checksum verification")
    slice_ = export_range(txlog, start, up_to_tx)
    slice_.write.mode("overwrite").parquet(os.path.join(backup_dir, f"txlog_{start}_{up_to_tx}"))
    with open(os.path.join(backup_dir, _META), "w") as f:
        # every incremental in a chain replays on top of the full
        # backup's snapshot, so its version is carried forward
        base_version = meta.get("base_version", meta["last_tx"])
        json.dump({"last_tx": up_to_tx, "base_version": base_version}, f)
    return slice_


BRANCH_PREFIX = "branched_"


def detect_divergence(
    a: PropertyGraph,
    b: PropertyGraph,
    tables: tuple[str, ...] = ("nodes", "relationships", "properties"),
) -> DataFrame:
    """Branched-data detection (`BranchedDataPolicy.java:30-66` — a slave
    store that no longer prefix-matches the master's is 'branched'):
    two-sided per-store diff between two snapshot lineages. Returns one
    row per (store, side) with the count of rows present on that side
    only — all-zero means the lineages agree.

    One Catalyst plan: each side is a full-row EXCEPT ALL (a hash
    anti-join keyed on the whole row) + a count aggregate; the unions
    are narrow. No driver-side comparisons.
    """
    from functools import reduce

    parts = []
    for name in tables:
        ta, tb = a.tables()[name], b.tables()[name]
        for side, d in (("only_a", ta.exceptAll(tb)), ("only_b", tb.exceptAll(ta))):
            parts.append(
                d.agg(F.count(F.lit(1)).alias("n_rows")).select(
                    F.lit(name).alias("store"),
                    F.lit(side).alias("side"),
                    F.col("n_rows").cast("long").alias("n_rows"),
                )
            )
    return reduce(DataFrame.unionByName, parts)


def apply_branch_policy(backup_dir: str, policy: str, stamp: str) -> list[str]:
    """`BranchedDataPolicy` keep_all | keep_last | keep_none
    (`BranchedDataPolicy.java:30-66`): what to do with the local store
    once it is known to have branched.

    - ``keep_all``: archive the current store (every ``v*`` dir + meta)
      under ``branched_<stamp>/``, alongside earlier archives.
    - ``keep_last``: archive, then prune every older archive.
    - ``keep_none``: delete the current store, no archive.

    Returns the surviving archive dir names (sorted). Driver-side
    filesystem bookkeeping by design — the reference moves store files,
    it does not rewrite data.
    """
    import shutil

    if policy not in ("keep_all", "keep_last", "keep_none"):
        raise ValueError(f"unknown branched-data policy: {policy}")
    stores = [
        d
        for d in os.listdir(backup_dir)
        if d.startswith("v") or d == _META
    ]
    if policy == "keep_none":
        for d in stores:
            p = os.path.join(backup_dir, d)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    else:
        dest = os.path.join(backup_dir, f"{BRANCH_PREFIX}{stamp}")
        os.makedirs(dest, exist_ok=True)
        for d in stores:
            shutil.move(os.path.join(backup_dir, d), os.path.join(dest, d))
        if policy == "keep_last":
            for d in os.listdir(backup_dir):
                if d.startswith(BRANCH_PREFIX) and d != f"{BRANCH_PREFIX}{stamp}":
                    shutil.rmtree(os.path.join(backup_dir, d))
    return sorted(
        d for d in os.listdir(backup_dir) if d.startswith(BRANCH_PREFIX)
    )


def restore(
    spark: SparkSession, backup_dir: str, verify: bool = True
) -> PropertyGraph:
    """S10 + R6: load the base snapshot, replay every exported incremental
    in tx order, optionally run the full consistency check and refuse a
    corrupt restore (`VerificationLevel.VERIFYING`)."""
    with open(os.path.join(backup_dir, _META)) as f:
        meta = json.load(f)
    base_version = meta.get("base_version", meta["last_tx"])
    g = PropertyGraph.load(spark, backup_dir, version=base_version)
    slices = sorted(
        (d for d in os.listdir(backup_dir) if d.startswith("txlog_")),
        key=lambda d: int(d.split("_")[1]),
    )
    for d in slices:
        log = spark.read.parquet(os.path.join(backup_dir, d))
        g = replay(g, log)
    if verify:
        n_bad = validate(g).limit(1).count()
        if n_bad:
            raise ValueError("restored graph failed consistency check")
    return g
