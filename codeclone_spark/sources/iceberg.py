"""Iceberg source adapter.

The production target is an Iceberg table (BASELINE.json input_hint); this
sandbox has no Iceberg runtime jar and no network to fetch one, so the
engine runs against hive-partitioned parquet whose `part` column stands in
for Iceberg partitions (FIXTURES.md §1).  This adapter keeps the engine
source-agnostic: when an Iceberg catalog is configured the same code paths
get real Iceberg scans, snapshot pruning, and partition metadata.

Mapping of engine mechanisms onto Iceberg:
- discovery (`plans/runner.py`): directory listing -> `table.partitions`
  metadata table (`SELECT partition FROM db.tbl.partitions`)
- resume pruning (`part NOT IN done`): identical partition-column filter;
  Iceberg prunes manifests before planning a single file split
- checkpoint ledger keyed by (partition): every entry carries a
  `data_sig` resume-validity signature (`plans/ledger.py:
  partition_data_signature` — a fold of the partition files'
  (name, size, mtime_ns)); with a live catalog the same field holds
  the table `snapshot_id` instead, and a resume validates against the
  same snapshot (time travel: `spark.read.option("snapshot-id", ...)`)
- violations/verdicts sinks: `df.writeTo(tbl).append()` instead of parquet
- bucketed clip_id layout: `ALTER TABLE ... WRITE ORDERED BY` /
  `bucket(N, clip_id)` partition transform makes the fixtures meta join and
  exact-dedup groupBy co-located (no shuffle at all)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is on the classpath + configured."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    """Load `catalog.db.table` (Iceberg) or a path (parquet fallback)."""
    if "/" not in identifier and iceberg_available(spark):
        return spark.read.format("iceberg").load(identifier)
    return spark.read.parquet(identifier)


def current_snapshot_id(spark: SparkSession, identifier: str) -> int | None:
    """Snapshot id of the table's CURRENT state.

    Reads the `.history` metadata table filtered to `is_current_ancestor`
    rather than `max(committed_at)` over `.snapshots`: `.snapshots` lists
    every snapshot ever committed, including ones rolled back or created on
    other branches, so after a rollback the newest `committed_at` row is NOT
    the table's current state and a resume signature built from it would
    treat stale ledger entries as valid.  `is_current_ancestor` restricts to
    the lineage of the current snapshot, whose newest `made_current_at` row
    IS current — the same answer `table.currentSnapshot()` gives in the Java
    API."""
    if not iceberg_available(spark):
        return None
    rows = spark.sql(
        f"SELECT snapshot_id FROM {identifier}.history "
        "WHERE is_current_ancestor ORDER BY made_current_at DESC LIMIT 1"
    ).collect()
    return int(rows[0]["snapshot_id"]) if rows else None


def snapshot_data_signature(spark: SparkSession, identifier: str) -> str | None:
    """Resume-validity signature from the table's current snapshot: ONE
    catalog call covers EVERY partition (Iceberg snapshots are table-wide
    and immutable — any data change produces a new snapshot id, which is
    exactly the reference's cache content-signature probe,
    core/discovery.py:118-190, at catalog granularity).  Returns None when
    no catalog is configured or the table has no snapshots yet — the caller
    falls back to the local per-partition file-metadata fold."""
    sid = current_snapshot_id(spark, identifier)
    return None if sid is None else f"snap:{sid}"
