"""Materialized inverted index — the legacy key/value index as a table.

Reference surface (SURVEY.md §2.1 S7, §1.6): Neo4j's legacy index
``db.index().forNodes(name).get(key, value)`` → entity iterator
(`AbstractHaTest.java:285`, `TestPartialPullUpdates.java:108`; per-(index,
key) lock rows `Master.java:71-73`). The reference maintains a separate
exact-match index structure next to the stores; the Spark-native twin is a
materialized ``index_entries(index_name, key, value, entity_id)`` table.

Layout for scale: partitioned by ``(index_name, key)`` — a ``get(key,
value)`` prunes to one partition directory — and range-sorted by ``value``
within files so the equality predicate prunes row groups via parquet
min/max stats. At 100 TB you'd additionally bucket by ``value`` hash; the
lookup then touches one partition x one bucket regardless of table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def index_entries(
    df: DataFrame,
    index_name: str,
    entity_col: str,
    key_cols: list[str],
) -> DataFrame:
    """Explode selected columns into (index_name, key, value, entity_id)
    rows — one narrow projection + stack, no shuffle."""
    pairs = []
    for k in key_cols:
        pairs.extend([F.lit(k), F.col(k).cast("string")])
    return df.select(
        F.lit(index_name).alias("index_name"),
        F.col(entity_col).alias("entity_id"),
        F.stack(F.lit(len(key_cols)), *pairs).alias("key", "value"),
    ).filter(F.col("value").isNotNull())


def write_index(entries: DataFrame, out_dir: str) -> None:
    """Materialize: partition dirs on (index_name, key); files sorted by
    value so equality gets prune row groups."""
    (
        entries.repartition("index_name", "key")
        .sortWithinPartitions("value")
        .write.mode("overwrite")
        .partitionBy("index_name", "key")
        .parquet(out_dir)
    )


def lookup(
    spark: SparkSession, index_dir: str, index_name: str, key: str, value: str
) -> DataFrame:
    """``forNodes(index_name).get(key, value)``: partition-pruned scan +
    pushed equality filter → entity ids."""
    return (
        spark.read.parquet(index_dir)
        .filter(
            (F.col("index_name") == index_name)
            & (F.col("key") == key)
            & (F.col("value") == value)
        )
        .select("entity_id")
    )


def put_if_absent(existing: DataFrame, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Batch ``putIfAbsent``: merge candidate entries into the index with
    first-writer-wins per (index_name, key, value) — the unique-entity
    creation pattern the reference runs under index write locks
    (`ha/src/test/java/slavetest/CommonJobs.java:928` putIfAbsent;
    `MasterImpl.java:524-535` acquireIndexWriteLock). In batch dataflow
    the lock dissolves into a windowed argmin: the lowest-``tx_id``
    candidate per key wins, unless the key already exists.

    ``existing``: (index_name, key, value, entity_id), assumed unique per
    (index_name, key, value). ``batch``: same + ``tx_id`` ordering the
    writers. Returns ``(merged, conflicts)``: merged = existing ∪ winning
    inserts (same schema as existing); conflicts = losing batch rows with
    a ``winner_id`` column (what putIfAbsent returns to the loser).

    Scale: the window and every join key on (index_name, key, value) —
    one shuffle each, co-partitioned; no driver round-trips.
    """
    from pyspark.sql.window import Window

    keys = ["index_name", "key", "value"]
    w = Window.partitionBy(*keys).orderBy("tx_id", "entity_id")
    first = (
        batch.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(*keys, "entity_id")
    )
    inserted = first.join(existing.select(*keys), keys, "left_anti")
    merged = existing.unionByName(inserted)
    winners = merged.select(*keys, F.col("entity_id").alias("winner_id"))
    conflicts = batch.join(winners, keys).filter(
        F.col("entity_id") != F.col("winner_id")
    )
    return merged, conflicts


def default_index_dir(sf_dir: str) -> str:
    """A temp dir keyed on the identity of ``sf_dir``'s tables."""
    from ..catalog import _parquet_files, _temp

    return _temp("inverted_index", *_parquet_files(sf_dir))
