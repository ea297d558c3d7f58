"""Sink layer: partitioned table writes (SURVEY §2.1
S4/S6-S8 generalized to the layouts that matter at 100 TB).

* ``write_partitioned`` — the bikes pipeline's parquet writer:
  hive-style directory partitioning; readers filtering on the
  partition columns scan only matching directories (PartitionFilters
  in the plan, verified by tests). The Spark analog of the reference's
  daily-refresh cycle is facts partitioned by date.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

# Hive-partitioned writes cluster rows by the partition key so each
# task holds whole partitions (tasks x dates small files otherwise — a
# listing-time DoS at 100 TB). maxRecordsPerFile is the in-task
# backstop: even a one-task date splits into bounded parquet files.
_MAX_RECORDS_PER_FILE = 5_000_000


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] | None,
    mode: str = "overwrite",
) -> None:
    w = df.repartition(*partition_cols).write if partition_cols else df.write
    w = w.mode(mode).option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    partition_cols: Sequence[str] | None = None,
) -> None:
    """Small-files compaction: rewrite a parquet table into
    ``target_files`` files (per partition when ``partition_cols``).

    Streaming/incremental appends accumulate small files; at 100 TB the
    file-listing and per-file open costs dominate scans long before
    data volume does. Run this as the maintenance pass (Delta's
    OPTIMIZE equivalent). Commit is the crash-consistent
    manifest-pointer protocol of ``sources.snapshot`` — the compacted
    copy is written to a fresh snapshot dir and the table symlink is
    atomically retargeted, so readers never observe a missing or
    partial table (fault-injection-tested in
    tests/test_snapshot_swap.py).
    """
    from bikes_data_warehouse_etl_spark.sources import snapshot

    df = spark.read.parquet(path)
    staged = snapshot.next_snapshot_path(path)
    writer = (
        df.repartition(target_files, *partition_cols)
        if partition_cols
        else df.repartition(target_files)
    ).write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(staged)
    snapshot.commit_snapshot(path, staged)

